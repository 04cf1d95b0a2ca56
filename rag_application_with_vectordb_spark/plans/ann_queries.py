"""ANN + end-to-end retrieval query catalog.

The notable property here: even the *approximate* search paths are
value-checkable against DuckDB, because the "randomness" (hyperplanes,
centroid choice) is a deterministic md5-fold — the oracle reproduces the
identical buckets, probes, and scores.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..embedder import hash_embedding_expr
from ..functions.vector import as_double, cosine_sim, cosine_sim_prenormed, dot, l2_norm, lit_double_matrix, lit_doubles
from ..operators.ann import ann_ivf_topk, ann_lsh_multiprobe_topk, ann_lsh_topk
from ..operators.chunker import chunk_documents
from ..session import scoped_no_wholestage_codegen as _no_wscg
from ..session import tune
from ..sources.catalog import load_table
from .oracle_dialect import duck_cosine, duck_fold_unit, duck_hash_embedding, duck_hex13_to_long
from .registry import register

_DIM = 64
_PLANES = 8

def _planes_sql_n(n: int) -> str:
    return f"""
    planes AS (
      SELECT CAST(t.p AS INTEGER) AS p,
             list_transform(range(0, {_DIM}),
                            j -> {duck_fold_unit("'plane|' || t.p || '|' || j")}) AS pv
      FROM (SELECT unnest(range(0, {n}))) t(p)
    )
"""


_PLANES_SQL = _planes_sql_n(_PLANES)


def _exact_top5_sql(query_pred: str) -> str:
    """Exact cosine top-5 CTE (the ``knn_join`` twin: sim DESC, id ASC)."""
    return f"""exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('e.embedding', 'q.qvec')} DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN
             (SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE {query_pred}) q
      ) WHERE rn <= 5
    )"""


_RECALL_TAIL_SQL = """
    SELECT e.query_id AS query_id,
           CAST(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS DOUBLE) AS recall_at_5
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    GROUP BY e.query_id
"""


def _bucket_sql(src: str, id_alias: str, vec: str) -> str:
    return f"""
      SELECT s.{id_alias}, s.{vec},
             CAST(SUM(CASE WHEN list_dot_product(s.{vec}::DOUBLE[], pl.pv) >= 0.0
                           THEN 2.0 ** pl.p ELSE 0.0 END) AS BIGINT) AS bucket
      FROM ({src}) s CROSS JOIN planes pl
      GROUP BY s.{id_alias}, s.{vec}
    """


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_PLANES_SQL},
    b AS ({_bucket_sql('SELECT vec_id, embedding FROM embeddings', 'vec_id', 'embedding')}),
    q AS ({_bucket_sql('SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3', 'query_id', 'qvec')}),
    scored AS (
      SELECT q.query_id, b.vec_id, {duck_cosine('b.embedding', 'q.qvec')} AS similarity
      FROM b JOIN q USING (bucket)
    )
    SELECT query_id, vec_id, similarity FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Random-hyperplane LSH ANN: bucket = sign bits of 8 deterministic "
    "hyperplane dots; search only the query's bucket. Approximate — and "
    "still value-checkable, because the hyperplanes are an md5-fold the "
    "oracle reproduces.",
    tags=("ann",),
)
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_lsh_topk(emb, queries, k=5, dim=_DIM, n_planes=_PLANES)


@register(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
    WITH {_PLANES_SQL},
    b AS ({_bucket_sql('SELECT vec_id, embedding FROM embeddings', 'vec_id', 'embedding')}),
    qd AS (
      SELECT q.query_id, q.qvec, pl.p,
             list_dot_product(q.qvec::DOUBLE[], pl.pv) AS d
      FROM (SELECT vec_id AS query_id, embedding AS qvec
            FROM embeddings WHERE vec_id < 3) q
      CROSS JOIN planes pl
    ),
    qagg AS (
      SELECT query_id, qvec,
        CAST(SUM(CASE WHEN d >= 0.0 THEN 2.0 ** p ELSE 0.0 END) AS BIGINT) AS base,
        (list(p ORDER BY abs(d) ASC, p ASC))[1:2] AS flip_planes
      FROM qd GROUP BY query_id, qvec
    ),
    probes AS (
      SELECT query_id, qvec,
             unnest(list_prepend(base,
               list_transform(flip_planes,
                              fp -> xor(base, CAST(2 ** fp AS BIGINT))))) AS bucket
      FROM qagg
    ),
    scored AS (
      SELECT pr.query_id, b.vec_id, {duck_cosine('b.embedding', 'pr.qvec')} AS similarity
      FROM b JOIN probes pr USING (bucket)
    )
    SELECT query_id, vec_id, similarity FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Multiprobe LSH ANN (Lv et al., VLDB'07): probe the query's bucket "
    "plus the 2 lowest-margin bit-flip buckets — recall rises toward exact "
    "at 3x probe cost, the stored corpus layout unchanged. The probe set "
    "is a pure function of the query vector, so even this approximate "
    "path is value-checked against DuckDB.",
    tags=("ann",),
)
def ann_lsh_multiprobe_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_lsh_multiprobe_topk(
        emb, queries, k=5, dim=_DIM, n_planes=_PLANES, n_extra_probes=2
    )


def _duck_l2(dim: int, a: str, b: str) -> str:
    """DuckDB squared-L2 mirroring the Spark ``dot(diff, diff)`` fold
    (``operators.kmeans.nearest_centroid_ids_l2``)."""
    diff = (
        f"list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[CAST(i AS INTEGER)] AS DOUBLE) - {b}[CAST(i AS INTEGER)])"
    )
    return f"list_dot_product({diff}, {diff})"


def _kmeans_fp_sql_g(
    prefix: str, train: str, k: int | str, iters: int, dim: int, scale: int, metric: str = "cosine"
) -> str:
    """Generalized unrolled-k-means CTE generator: ``train`` is any
    relation exposing ``(vec_id, embedding)`` — e.g. a subvector slice
    for PQ codebook training — and ``prefix`` namespaces the CTEs so
    several trainings coexist in one WITH clause. Trained centroids land
    in ``{prefix}cent{iters}``. Cross-engine exactness as in
    ``_kmeans_fp_sql``. ``metric``: "cosine" (spherical, max-sim) or
    "l2" (Euclidean, min-sq-dist) assignment."""
    P = prefix
    if metric == "l2":
        order = f"{_duck_l2(dim, 'e.embedding', 'c.cvec')} ASC"
    else:
        order = f"{duck_cosine('e.embedding', 'c.cvec')} DESC"
    parts = [
        f"""{P}cent0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             embedding::DOUBLE[] AS cvec
      FROM (SELECT vec_id, embedding FROM {train} ORDER BY vec_id LIMIT {k})
    )"""
    ]
    for i in range(1, iters + 1):
        prev = f"{P}cent{i - 1}"
        parts.append(f"""{P}kassign{i} AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {order}, c.centroid_id) AS rn
        FROM {train} e CROSS JOIN {prev} c
      ) WHERE rn = 1
    )""")
        parts.append(f"""{P}ksums{i} AS (
      SELECT centroid_id, j,
             SUM(CAST(FLOOR(CAST(a.embedding[CAST(j AS INTEGER)] AS DOUBLE) * {scale}.0) AS BIGINT)) AS fp_sum,
             COUNT(*) AS n
      FROM {P}kassign{i} a, (SELECT unnest(range(1, {dim + 1}))) t(j)
      GROUP BY centroid_id, j
    )""")
        parts.append(f"""{P}kmeans{i} AS (
      SELECT centroid_id,
             list(CAST(fp_sum AS DOUBLE) / CAST(n * {scale} AS DOUBLE) ORDER BY j) AS cvec_new
      FROM {P}ksums{i} GROUP BY centroid_id
    )""")
        parts.append(f"""{P}cent{i} AS (
      SELECT c.centroid_id, COALESCE(m.cvec_new, c.cvec) AS cvec
      FROM {prev} c LEFT JOIN {P}kmeans{i} m USING (centroid_id)
    )""")
    return ",\n    ".join(parts)


def _kmeans_fp_sql(k: int, iters: int, dim: int, scale: int, sample_mod: int | None = None) -> str:
    """Unrolled fixed-iteration spherical k-means as DuckDB CTEs — the
    oracle twin of ``operators.kmeans.kmeans_fit_spherical_fp``. Exact
    cross-engine equality holds because assignment uses the proven
    ``duck_cosine`` fold and the mean update is integer arithmetic
    (``floor(val * 2^s)`` sums) followed by one correctly-rounded fp64
    division — see the operator docstring. ``sample_mod`` mirrors the
    operator's deterministic ``vec_id % m == 0`` training subsample."""
    train = (
        f"(SELECT vec_id, embedding FROM embeddings WHERE vec_id % {int(sample_mod)} = 0)"
        if sample_mod is not None and int(sample_mod) > 1
        else "embeddings"
    )
    return _kmeans_fp_sql_g("", train, k, iters, dim, scale)



_IVF_K, _IVF_ITERS, _IVF_SCALE = 8, 2, 1 << 20
#: Train the coarse quantizer on the deterministic ``vec_id % 4 == 0``
#: subsample — the standard IVF recipe (a quantizer needs O(100)
#: vectors/centroid, not the corpus); at 100 TB the training scans touch
#: 1/4 of the data (any fixed modulus works — the catalog keeps 4 so the
#: sf0.001 fixture still yields >15 vectors per centroid).
_IVF_SAMPLE_MOD = 4

#: Trained coarse quantizers, keyed by (fixture dir, hyperparams). Index
#: build is an OFFLINE stage (FAISS trains its quantizer once and stores
#: it with the index; serving only loads it) — per-query retraining is
#: pure waste, and the per-call Lloyd's jobs were the single biggest
#: line in the round-2 bench (6.6 s of a 37 s suite). Training is
#: deterministic (fixed-point sums, fixed iterations), so memoizing the
#: k×dim centroid VALUES is result-invisible; the cache holds ~4 KB per
#: fixture and assumes the fixture parquet is immutable for the process
#: lifetime (the driver contract guarantees this).
_QUANTIZER_CACHE: dict[tuple, list[tuple[int, list[float]]]] = {}

#: Persisted inverted tables (corpus_id, vec, centroid_id), same key.
#: The corpus→list assignment is the OTHER index-build artifact: at
#: scale it is written out partitioned by centroid id (ivf_assign's
#: docstring); here the in-memory analog is a persisted DataFrame.
_IVF_INDEX_CACHE: dict[tuple, DataFrame] = {}


#: On-disk index store (gitignored). Index build is an OFFLINE stage —
#: a real IVF deployment trains its quantizer and writes its inverted
#: lists once (to S3/HDFS, partitioned by list id), then every serving
#: process LOADS them. Persisting here makes that story real across
#: processes: the first process per fixture generation pays the build,
#: every later one (the driver's bench cold pass included) reads a
#: few-MB parquet + a 4 KB JSON. Keyed by the fixture file's identity
#: (mtime+size) so a driver-side fixture regeneration invalidates
#: automatically — the lesson of the round-3 events.parquet drift.
_IVF_STORE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "spark-warehouse", "ivf_index")


def _ivf_key(sf_dir: str) -> tuple:
    return (sf_dir, _IVF_K, _IVF_ITERS, _IVF_SCALE, _IVF_SAMPLE_MOD)


def _ivf_disk_dir(sf_dir: str) -> str | None:
    import hashlib

    try:
        st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        return None
    tag = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}|{_IVF_K}|{_IVF_ITERS}|{_IVF_SCALE}|{_IVF_SAMPLE_MOD}"
    return os.path.join(_IVF_STORE, hashlib.md5(tag.encode()).hexdigest()[:16])


def _prune_stale_index_dirs(sf_dir: str, keep: str, kind: str = "ivf") -> None:
    """GC superseded index generations for this fixture dir.

    Every fixture regeneration changes mtime+size → a new hash dir; the
    old generation would otherwise leak forever (one orphan per driver
    round). Each dir records its source fixture in ``meta.json`` so
    siblings for the SAME sf_dir (different generation) are identifiable
    despite the hashed names. Dirs without a meta are left alone — they
    may be a DIFFERENT sf_dir's live index (treating them as stale once
    cost a bench cold pass a full sf0.1 retrain); every dir published
    since the meta scheme carries one, so the no-meta population can
    only shrink.

    ``kind`` namespaces co-existing index FAMILIES for one fixture (the
    main trained IVF store vs the incremental append store,
    ``plans.ann_incremental``): pruning only same-kind siblings keeps
    one publish from deleting the other family's live index. Metas
    written before the field default to "ivf"."""
    import json
    import shutil

    try:
        sibs = os.listdir(_IVF_STORE)
    except OSError:
        return
    target = os.path.abspath(sf_dir)
    for name in sibs:
        d = os.path.join(_IVF_STORE, name)
        if d == keep or not os.path.isdir(d):
            continue
        try:
            with open(os.path.join(d, "meta.json")) as f:
                meta = json.load(f)
        except Exception:
            continue  # no/unreadable meta: could be another sf_dir's index
        if meta.get("sf_dir") == target and meta.get("kind", "ivf") == kind:
            shutil.rmtree(d, ignore_errors=True)


def _publish_meta(d: str, sf_dir: str, kind: str = "ivf") -> None:
    import json

    try:
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"sf_dir": os.path.abspath(sf_dir), "kind": kind}, f)
    except OSError:
        pass
    _prune_stale_index_dirs(sf_dir, keep=d, kind=kind)


def _trained_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    key = _ivf_key(sf_dir)
    cents = _QUANTIZER_CACHE.get(key)
    if cents is None:
        d = _ivf_disk_dir(sf_dir)
        path = os.path.join(d, "centroids.json") if d else None
        if path and os.path.exists(path):
            with open(path) as f:
                cents = [(int(c), [float(x) for x in v]) for c, v in json.load(f)]
        else:
            from ..operators.kmeans import kmeans_fit_spherical_fp_values

            emb = load_table(spark, sf_dir, "embeddings")
            cents = kmeans_fit_spherical_fp_values(
                emb, k=_IVF_K, iterations=_IVF_ITERS, scale=_IVF_SCALE, sample_mod=_IVF_SAMPLE_MOD
            )
            if path:
                # atomic publish: JSON repr round-trips fp64 exactly, so a
                # loaded quantizer is bit-identical to a trained one
                try:
                    os.makedirs(d, exist_ok=True)
                    tmp = path + f".tmp{os.getpid()}"
                    with open(tmp, "w") as f:
                        json.dump(cents, f)
                    os.replace(tmp, path)
                    _publish_meta(d, sf_dir)
                except OSError:
                    pass
        _QUANTIZER_CACHE[key] = cents
    return spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cents], "centroid_id int, cvec array<double>"
    )


def _trained_quantizer_vals(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The trained quantizer as driver values ``[(id, vec)]`` — the form
    the literal-expression serving paths consume directly. Prefer this
    over :func:`_trained_quantizer` anywhere the centroids are only
    turned into literals: the DataFrame wrapper costs a ~1 s
    collect round-trip per call (measured; see
    ``operators.ann._collect_centroids``)."""
    key = _ivf_key(sf_dir)
    if key not in _QUANTIZER_CACHE:
        _trained_quantizer(spark, sf_dir)
    return _QUANTIZER_CACHE[key]


def _ivf_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import ivf_assign

    key = _ivf_key(sf_dir)
    inv = _IVF_INDEX_CACHE.get(key)
    if inv is None:
        d = _ivf_disk_dir(sf_dir)
        path = os.path.join(d, "inverted.parquet") if d else None
        if path and os.path.exists(path):
            inv = spark.read.parquet(path).persist()
        else:
            emb = load_table(spark, sf_dir, "embeddings")
            inv = ivf_assign(emb, _trained_quantizer_vals(spark, sf_dir))
            if path:
                # the on-disk analog of "inverted lists partitioned by
                # centroid id": a probe becomes a partition-pruned read
                try:
                    tmp = path + f".tmp{os.getpid()}"
                    inv.write.mode("overwrite").partitionBy("centroid_id").parquet(tmp)
                    os.replace(tmp, path)
                    _publish_meta(d, sf_dir)
                    inv = spark.read.parquet(path)
                except Exception:  # lost publish race / read-only fs — serve from plan
                    import shutil

                    shutil.rmtree(tmp, ignore_errors=True)
            inv = inv.persist()
        _IVF_INDEX_CACHE[key] = inv
    return inv


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_kmeans_fp_sql(_IVF_K, _IVF_ITERS, _DIM, _IVF_SCALE, _IVF_SAMPLE_MOD)},
    cent AS (SELECT centroid_id, cvec FROM cent{_IVF_ITERS}),
    assign AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, {duck_cosine('a.embedding', 'p.qvec')} AS similarity
      FROM assign a JOIN probes p USING (centroid_id)
    )
    SELECT query_id, vec_id, similarity FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="IVF ANN with a TRAINED coarse quantizer, fully value-checked: "
    "fixed-iteration spherical k-means whose mean update is fixed-point "
    "integer arithmetic (operators/kmeans.kmeans_fit_spherical_fp), so "
    "the trained centroids — and therefore the probed lists and scores — "
    "are bit-identical in DuckDB's unrolled-Lloyd's oracle. Probes the 2 "
    "nearest of 8 learned lists; at scale the inverted lists are "
    "partition-pruned scans keyed by centroid id. (Round 1 used a "
    "first-C centroid subset — kept as ann_ivf_firstc_topk.)",
    tags=("ann",),
)
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained_quantizer_vals(spark, sf_dir)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_ivf_topk(
        emb, centroids, queries, k=5, nprobe=2, inverted=_ivf_inverted(spark, sf_dir)
    )


@register(
    "ann_ivf_firstc_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, {duck_cosine('a.embedding', 'p.qvec')} AS similarity
      FROM assign a JOIN probes p USING (centroid_id)
    )
    SELECT query_id, vec_id, similarity FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY similarity DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="UNTRAINED FALLBACK quantizer: IVF over a deterministic first-C "
    "centroid subset — zero training cost, same probe machinery. The "
    "default catalog IVF (ann_ivf_topk) trains its centroids; this entry "
    "pins the fallback path's exactness independently.",
    tags=("ann", "anchor"),
)
def ann_ivf_firstc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_ivf_topk(emb, centroids, queries, k=5, nprobe=2)


@register(
    "knn_topk_prenormed",
    oracle=f"""
    WITH c AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    ),
    q AS (SELECT embedding AS qvec, norm AS qnorm FROM c WHERE vec_id = 0)
    SELECT c.vec_id,
           CASE WHEN c.norm = 0.0 OR q.qnorm = 0.0 THEN 0.0
                ELSE list_dot_product(c.embedding::DOUBLE[], q.qvec::DOUBLE[]) / (c.norm * q.qnorm)
           END AS similarity
    FROM c, q
    ORDER BY similarity DESC, c.vec_id ASC
    LIMIT 5
    """,
    doc="KNN with ingest-time precomputed norms (SURVEY.md §4.2): halves "
    "per-query FLOPs vs the reference, which recomputes every corpus norm "
    "on every query (vectorDb.ts:40-45); identical results.",
    tags=("rag", "ann"),
)
def knn_topk_prenormed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    # "ingest": attach the norm column once
    corpus = emb.withColumn("norm", l2_norm(as_double(F.col("embedding"))))
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("norm").alias("qnorm")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "vec_id",
        cosine_sim_prenormed(
            F.col("embedding"), F.col("norm"), F.col("qvec"), F.col("qnorm")
        ).alias("similarity"),
    )
    return scored.orderBy(F.desc("similarity"), F.asc("vec_id")).limit(5)


_L2_KMEANS_SQL = _kmeans_fp_sql_g(
    "l2", "embeddings", 8, 3, _DIM, _IVF_SCALE, metric="l2"
)


@register(
    "ann_ivf_trained_topk",
    oracle=f"""
    WITH {_L2_KMEANS_SQL},
    cent AS MATERIALIZED (SELECT centroid_id, cvec FROM l2cent3),
    assign AS MATERIALIZED (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    )
    SELECT query_id, vec_id, similarity FROM (
      SELECT p.query_id, a.vec_id, {duck_cosine('a.embedding', 'p.qvec')} AS similarity,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY {duck_cosine('a.embedding', 'p.qvec')} DESC, a.vec_id) AS rn
      FROM assign a JOIN probes p USING (centroid_id)
    ) WHERE rn <= 5
    """,
    doc="IVF with a TRAINED EUCLIDEAN coarse quantizer: fixed-point "
    "squared-L2 Lloyd's (operators/kmeans.py: kmeans_fit_l2_fp_values — "
    "assignment by the sequential dot(diff,diff) fold, means on the "
    "exact-integer grid), 2 cosine probes over 8 learned lists. "
    "Value-checked since round 5: the fp64-mean kmeans_fit it replaced "
    "was the catalog's last by-design rows-only trained path (the "
    "fixed-point mean made the L2 training itself bit-reproducible in "
    "DuckDB, the same move that closed the spherical trainer in r3).",
    tags=("ann",),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from ..operators.kmeans import kmeans_fit_l2_fp_values

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit_l2_fp_values(emb, k=8, iterations=3, scale=_IVF_SCALE)
    centroids = spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cents], "centroid_id int, cvec array<double>"
    )
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_ivf_topk(emb, centroids, queries, k=5, nprobe=2)


@register(
    "ann_lsh_recall",
    oracle=f"""
    WITH {_planes_sql_n(4)},
    b AS ({_bucket_sql('SELECT vec_id, embedding FROM embeddings', 'vec_id', 'embedding')}),
    qb AS ({_bucket_sql('SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10', 'query_id', 'qvec')}),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, b.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('b.embedding', 'q.qvec')} DESC, b.vec_id) AS rn
        FROM b JOIN qb q USING (bucket)
      ) WHERE rn <= 5
    ),
    {_exact_top5_sql('vec_id < 10')}
    {_RECALL_TAIL_SQL}
    """,
    doc="Recall@5 of the LSH ANN path against the exact scan, per query — "
    "the quality metric an ANN deployment monitors. Uses 4 planes (16 "
    "buckets) for the fixture-sized corpus; plane count is the knob that "
    "trades bucket size (cost) against recall. Both sides are "
    "deterministic (md5-fold hyperplanes), so even the recall arithmetic "
    "is value-checked against DuckDB.",
    tags=("ann",),
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    _no_wscg(spark)  # r12: unrolled exact side, see _recall_vs_exact
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    from ..operators.knn import knn_join

    exact = knn_join(emb, queries, k=5, dim=_DIM).select("query_id", "vec_id")
    approx = ann_lsh_topk(emb, queries, k=5, dim=_DIM, n_planes=4).select(
        "query_id", F.col("vec_id").alias("vec_id_a")
    )
    hits = exact.join(
        approx, (exact.query_id == approx.query_id) & (exact.vec_id == approx.vec_id_a), "left"
    ).groupBy(exact.query_id.alias("query_id")).agg(
        (F.count("vec_id_a") / F.count("*")).alias("recall_at_5")
    )
    return hits


def _recall_vs_exact(spark, sf_dir: str, approx_fn) -> DataFrame:
    """Recall@5 of an approximate path against the exact scan, per query.

    r12 optimization: the exact side's full-corpus scoring uses the
    unrolled fixed-dim cosine (knn_join(dim=64), guide §4.1); callers
    scope-disable whole-stage codegen — the wide fold would otherwise
    run interpreted. Values identical (cosine_sim_sql contract)."""
    _no_wscg(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    from ..operators.knn import knn_join

    exact = knn_join(emb, queries, k=5, dim=_DIM).select("query_id", "vec_id")
    approx = approx_fn(emb, queries).select(
        "query_id", F.col("vec_id").alias("vec_id_a")
    )
    return exact.join(
        approx, (exact.query_id == approx.query_id) & (exact.vec_id == approx.vec_id_a), "left"
    ).groupBy(exact.query_id.alias("query_id")).agg(
        (F.count("vec_id_a") / F.count("*")).alias("recall_at_5")
    )


@register(
    "ann_ivf_recall",
    oracle=f"""
    WITH {_kmeans_fp_sql(_IVF_K, _IVF_ITERS, _DIM, _IVF_SCALE, _IVF_SAMPLE_MOD)},
    cent AS (SELECT centroid_id, cvec FROM cent{_IVF_ITERS}),
    assign AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY {duck_cosine('a.embedding', 'p.qvec')} DESC, a.vec_id) AS rn
        FROM assign a JOIN probes p USING (centroid_id)
      ) WHERE rn <= 5
    ),
    {_exact_top5_sql('vec_id < 10')}
    {_RECALL_TAIL_SQL}
    """,
    doc="Recall@5 of the TRAINED-IVF path (nprobe=2 over 8 learned lists) "
    "against the exact scan — 0.73 on the sf0.01 fixture vs 0.71 for the "
    "first-C fallback quantizer and 0.2-0.6 for single-probe LSH; the "
    "fixture's near-uniform random vectors bound how much structure any "
    "quantizer can learn (NEXT.md).",
    tags=("ann",),
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)

    def approx(emb, queries):
        return ann_ivf_topk(
            emb,
            _trained_quantizer_vals(spark, sf_dir),
            queries,
            k=5,
            nprobe=2,
            inverted=_ivf_inverted(spark, sf_dir),
        )

    return _recall_vs_exact(spark, sf_dir, approx)


@register(
    "ann_lsh_multiprobe_recall",
    oracle=f"""
    WITH {_planes_sql_n(4)},
    b AS ({_bucket_sql('SELECT vec_id, embedding FROM embeddings', 'vec_id', 'embedding')}),
    qd AS (
      SELECT q.query_id, q.qvec, pl.p,
             list_dot_product(q.qvec::DOUBLE[], pl.pv) AS d
      FROM (SELECT vec_id AS query_id, embedding AS qvec
            FROM embeddings WHERE vec_id < 10) q
      CROSS JOIN planes pl
    ),
    qagg AS (
      SELECT query_id, qvec,
        CAST(SUM(CASE WHEN d >= 0.0 THEN 2.0 ** p ELSE 0.0 END) AS BIGINT) AS base,
        (list(p ORDER BY abs(d) ASC, p ASC))[1:2] AS flip_planes
      FROM qd GROUP BY query_id, qvec
    ),
    probes AS (
      SELECT query_id, qvec,
             unnest(list_prepend(base,
               list_transform(flip_planes,
                              fp -> xor(base, CAST(2 ** fp AS BIGINT))))) AS bucket
      FROM qagg
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT pr.query_id, b.vec_id,
               row_number() OVER (PARTITION BY pr.query_id
                                  ORDER BY {duck_cosine('b.embedding', 'pr.qvec')} DESC, b.vec_id) AS rn
        FROM b JOIN probes pr USING (bucket)
      ) WHERE rn <= 5
    ),
    {_exact_top5_sql('vec_id < 10')}
    {_RECALL_TAIL_SQL}
    """,
    doc="Recall@5 of multiprobe LSH (4 planes + 2 margin-flip probes) vs "
    "the exact scan — 0.48 on the sf0.01 fixture against 0.32 for "
    "single-probe at the same plane count: the monitor that justifies "
    "multiprobe's 3x probe cost.",
    tags=("ann",),
)
def ann_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)

    def approx(emb, queries):
        return ann_lsh_multiprobe_topk(emb, queries, k=5, dim=_DIM, n_planes=4, n_extra_probes=2)

    return _recall_vs_exact(spark, sf_dir, approx)


_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8

#: Shared oracle CTEs: codebooks as a [m][k][sub] nested list (``cbl``),
#: and the corpus encoded to m codes per vector (``enc`` — assumes
#: ``cbl`` is already defined). Every fp64 reduction is an explicit
#: left-to-right fold, matching the Spark side's ordered F.aggregate /
#: sequential dot.
def _pq_enc_sql(src: str = "embeddings") -> str:
    return f"""enc AS (
      SELECT e.vec_id, e.embedding,
        list_transform(range(0, {_PQ_M}), s ->
          CAST(list_position(
            list_transform(range(0, {_PQ_K}), c ->
              list_dot_product(list_slice(e.embedding::DOUBLE[], s*{_PQ_SUB}+1, (s+1)*{_PQ_SUB}),
                               cb_all[CAST(s AS INTEGER)+1][CAST(c AS INTEGER)+1])),
            list_max(list_transform(range(0, {_PQ_K}), c ->
              list_dot_product(list_slice(e.embedding::DOUBLE[], s*{_PQ_SUB}+1, (s+1)*{_PQ_SUB}),
                               cb_all[CAST(s AS INTEGER)+1][CAST(c AS INTEGER)+1])))
          ) - 1 AS INTEGER)) AS codes
      FROM {src} e, cbl
    )"""


_PQ_ENC_SQL = _pq_enc_sql()

#: First-C codebooks (the value-checked anchor construction) + encode.
_PQ_CB_SQL = f"""
    cb AS (
      SELECT s.s, r.code,
             list_slice(r.embedding::DOUBLE[], s.s*{_PQ_SUB}+1, (s.s+1)*{_PQ_SUB}) AS cw
      FROM (SELECT unnest(range(0, {_PQ_M}))) s(s)
      CROSS JOIN (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                         embedding
                  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})) r
    ),
    cb2 AS (SELECT s, list(cw ORDER BY code) AS cws FROM cb GROUP BY s),
    cbl AS (SELECT list(cws ORDER BY s) AS cb_all FROM cb2),
    {_PQ_ENC_SQL}
"""

def _pq_adc_terms(qref: str = "q") -> str:
    return " + ".join(
        f"list_dot_product(list_slice({qref}.qvec::DOUBLE[], {s * _PQ_SUB + 1}, {(s + 1) * _PQ_SUB}), "
        f"cb_all[{s + 1}][enc.codes[{s + 1}]+1])"
        for s in range(_PQ_M)
    )


_PQ_ADC_TERMS = _pq_adc_terms("q")


def _pq_codebook(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.pq import pq_codebook_firstc

    return emb, pq_codebook_firstc(emb, m=_PQ_M, k=_PQ_K, dim=_DIM)


_PQ_TRAIN_ITERS, _PQ_TRAIN_MOD = 2, 4
_PQ_TRAIN_CACHE: dict[tuple, list[list[list[float]]]] = {}


def _pq_trained_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Trained PQ codebooks, memoized + disk-persisted like the IVF
    quantizer (same store dir, same fixture-identity key)."""
    import json

    key = (sf_dir, _PQ_M, _PQ_K, _PQ_TRAIN_ITERS, _IVF_SCALE, _PQ_TRAIN_MOD)
    books = _PQ_TRAIN_CACHE.get(key)
    if books is None:
        d = _ivf_disk_dir(sf_dir)
        path = os.path.join(d, "pq_codebooks.json") if d else None
        if path and os.path.exists(path):
            with open(path) as f:
                books = [[[float(x) for x in cw] for cw in sub] for sub in json.load(f)]
        else:
            from ..operators.pq import pq_codebook_trained

            emb = load_table(spark, sf_dir, "embeddings")
            books = pq_codebook_trained(
                emb,
                m=_PQ_M,
                k=_PQ_K,
                dim=_DIM,
                iterations=_PQ_TRAIN_ITERS,
                scale=_IVF_SCALE,
                sample_mod=_PQ_TRAIN_MOD,
            )
            if path:
                try:
                    os.makedirs(d, exist_ok=True)
                    tmp = path + f".tmp{os.getpid()}"
                    with open(tmp, "w") as f:
                        json.dump(books, f)
                    os.replace(tmp, path)
                except OSError:
                    pass
        _PQ_TRAIN_CACHE[key] = books
    return books


def _pq_trained_cb_sql() -> str:
    """Oracle CTEs for the trained codebooks: one unrolled fp k-means per
    subspace over its slice of the ``vec_id % mod`` sample, unioned into
    the same ``cbl`` nested-list shape the shared ``enc`` CTE consumes."""
    trains = ",\n    ".join(
        _kmeans_fp_sql_g(
            f"s{s}_",
            f"(SELECT vec_id, list_slice(embedding::DOUBLE[], {s * _PQ_SUB + 1}, {(s + 1) * _PQ_SUB}) AS embedding "
            f"FROM embeddings WHERE vec_id % {_PQ_TRAIN_MOD} = 0)",
            _PQ_K,
            _PQ_TRAIN_ITERS,
            _PQ_SUB,
            _IVF_SCALE,
        )
        for s in range(_PQ_M)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, centroid_id AS code, cvec AS cw FROM s{s}_cent{_PQ_TRAIN_ITERS}"
        for s in range(_PQ_M)
    )
    return f"""{trains},
    cbu AS (
      {union}
    ),
    cb2 AS (SELECT s, list(cw ORDER BY code) AS cws FROM cbu GROUP BY s),
    cbl AS (SELECT list(cws ORDER BY s) AS cb_all FROM cb2),
    {_PQ_ENC_SQL}"""


_PQ_RES_CACHE: dict[tuple, list[list[list[float]]]] = {}


def _pq_residual_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Residual PQ codebooks (trained on ``v − centroid(v)`` slices),
    memoized + disk-persisted beside the IVF index."""
    import json

    key = (sf_dir, "res", _PQ_M, _PQ_K, _PQ_TRAIN_ITERS, _IVF_SCALE, _PQ_TRAIN_MOD)
    books = _PQ_RES_CACHE.get(key)
    if books is None:
        d = _ivf_disk_dir(sf_dir)
        path = os.path.join(d, "pq_res_codebooks.json") if d else None
        if path and os.path.exists(path):
            with open(path) as f:
                books = [[[float(x) for x in cw] for cw in sub] for sub in json.load(f)]
        else:
            from ..operators.pq import pq_codebook_trained, pq_residuals

            res = pq_residuals(
                _ivf_inverted(spark, sf_dir), _trained_quantizer(spark, sf_dir)
            )
            books = pq_codebook_trained(
                res,
                m=_PQ_M,
                k=_PQ_K,
                dim=_DIM,
                iterations=_PQ_TRAIN_ITERS,
                scale=_IVF_SCALE,
                sample_mod=_PQ_TRAIN_MOD,
                vec_col="res",
            )
            if path:
                try:
                    os.makedirs(d, exist_ok=True)
                    tmp = path + f".tmp{os.getpid()}"
                    with open(tmp, "w") as f:
                        json.dump(books, f)
                    os.replace(tmp, path)
                except OSError:
                    pass
        _PQ_RES_CACHE[key] = books
    return books


def _ivfadc_res_cb_sql() -> str:
    """Oracle CTEs for residual-PQ: coarse assignment → residuals →
    eight per-subspace trainings over residual slices → ``cbl`` + ``enc``
    over the residual relation."""
    res_src = "(SELECT vec_id, res AS embedding FROM res)"
    trains = ",\n    ".join(
        _kmeans_fp_sql_g(
            f"r{s}_",
            f"(SELECT vec_id, list_slice(res, {s * _PQ_SUB + 1}, {(s + 1) * _PQ_SUB}) AS embedding "
            f"FROM res WHERE vec_id % {_PQ_TRAIN_MOD} = 0)",
            _PQ_K,
            _PQ_TRAIN_ITERS,
            _PQ_SUB,
            _IVF_SCALE,
        )
        for s in range(_PQ_M)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, centroid_id AS code, cvec AS cw FROM r{s}_cent{_PQ_TRAIN_ITERS}"
        for s in range(_PQ_M)
    )
    return f"""res AS MATERIALIZED (
      SELECT a.vec_id, a.centroid_id,
             list_transform(range(1, {_DIM + 1}),
                            j -> CAST(a.embedding[CAST(j AS INTEGER)] AS DOUBLE)
                                 - c.cvec[CAST(j AS INTEGER)]) AS res
      FROM assign a JOIN cent c USING (centroid_id)
    ),
    {trains},
    cbu AS (
      {union}
    ),
    cb2 AS (SELECT s, list(cw ORDER BY code) AS cws FROM cbu GROUP BY s),
    cbl AS (SELECT list(cws ORDER BY s) AS cb_all FROM cb2),
    {_pq_enc_sql(res_src)}"""


@register(
    "ann_ivfadc_topk",
    oracle=f"""
    WITH {_kmeans_fp_sql(_IVF_K, _IVF_ITERS, _DIM, _IVF_SCALE, _IVF_SAMPLE_MOD)},
    cent AS MATERIALIZED (SELECT centroid_id, cvec FROM cent{_IVF_ITERS}),
    assign AS MATERIALIZED (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    {_ivfadc_res_cb_sql()},
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    probes AS (
      SELECT query_id, qvec, centroid_id,
             list_dot_product(qvec::DOUBLE[], cvec) AS qc
      FROM (
        SELECT q.query_id, q.qvec, c.centroid_id, c.cvec,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, p.qc + ({_pq_adc_terms("p")}) AS adc_score
      FROM assign a
      JOIN probes p USING (centroid_id)
      JOIN enc ON enc.vec_id = a.vec_id
      CROSS JOIN cbl
    )
    SELECT query_id, vec_id, adc_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="IVFADC proper (Jégou et al. §IV): candidates are scored as "
    "dot(query, centroid) + ADC over codes of the RESIDUAL v − "
    "centroid(v), with residual codebooks trained per subspace on the "
    "residual slices — quantization resolution concentrates on the "
    "within-cell displacement, the classic accuracy upgrade over raw-"
    "vector PQ at identical serving cost (the centroid term is computed "
    "once per probed list, not per candidate). The oracle reproduces "
    "coarse training, assignment, residuals, all eight residual "
    "trainings, encoding, and the two-term ordered score fold.",
    tags=("ann",),
)
def ann_ivfadc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ann_ivfadc_topk, pq_encode, pq_residuals

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained_quantizer(spark, sf_dir)
    inv = _ivf_inverted(spark, sf_dir)
    books = _pq_residual_codebooks(spark, sf_dir)
    res = pq_residuals(inv, centroids)
    res_codes = pq_encode(res, books, vec_col="res").join(
        res.select("vec_id", "centroid_id"), "vec_id"
    )
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_ivfadc_topk(res_codes, centroids, queries, books, k=5, nprobe=2)


def _opq_perm() -> list[int]:
    """Deterministic dimension permutation: dims ordered by the md5 of
    'perm42|<dim>' — the oracle reproduces it with ORDER BY md5(...)."""
    import hashlib

    return sorted(
        range(_DIM), key=lambda j: (hashlib.md5(f"perm42|{j}".encode()).hexdigest(), j)
    )


_OPQ_CACHE: dict[tuple, list[list[list[float]]]] = {}


def _opq_codebooks(
    spark: SparkSession, sf_dir: str, perm: list[int], tag: str = "opq"
) -> list[list[list[float]]]:
    import json

    key = (sf_dir, tag, _PQ_M, _PQ_K, _PQ_TRAIN_ITERS, _IVF_SCALE, _PQ_TRAIN_MOD)
    books = _OPQ_CACHE.get(key)
    if books is None:
        d = _ivf_disk_dir(sf_dir)
        path = os.path.join(d, f"{tag}_codebooks.json") if d else None
        if path and os.path.exists(path):
            with open(path) as f:
                books = [[[float(x) for x in cw] for cw in sub] for sub in json.load(f)]
        else:
            from ..operators.pq import pq_codebook_trained

            emb = load_table(spark, sf_dir, "embeddings")
            permuted = emb.select(
                "vec_id",
                F.transform(
                    F.lit(perm), lambda j: F.element_at(as_double(F.col("embedding")), j + 1)
                ).alias("pvec"),
            )
            books = pq_codebook_trained(
                permuted,
                m=_PQ_M,
                k=_PQ_K,
                dim=_DIM,
                iterations=_PQ_TRAIN_ITERS,
                scale=_IVF_SCALE,
                sample_mod=_PQ_TRAIN_MOD,
                vec_col="pvec",
            )
            if path:
                try:
                    os.makedirs(d, exist_ok=True)
                    tmp = path + f".tmp{os.getpid()}"
                    with open(tmp, "w") as f:
                        json.dump(books, f)
                    os.replace(tmp, path)
                except OSError:
                    pass
        _OPQ_CACHE[key] = books
    return books


def _opq_trained_cb_sql() -> str:
    trains = ",\n    ".join(
        _kmeans_fp_sql_g(
            f"s{s}_",
            f"(SELECT vec_id, list_slice(embedding, {s * _PQ_SUB + 1}, {(s + 1) * _PQ_SUB}) AS embedding "
            f"FROM pemb WHERE vec_id % {_PQ_TRAIN_MOD} = 0)",
            _PQ_K,
            _PQ_TRAIN_ITERS,
            _PQ_SUB,
            _IVF_SCALE,
        )
        for s in range(_PQ_M)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, centroid_id AS code, cvec AS cw FROM s{s}_cent{_PQ_TRAIN_ITERS}"
        for s in range(_PQ_M)
    )
    return f"""{trains},
    cbu AS (
      {union}
    ),
    cb2 AS (SELECT s, list(cw ORDER BY code) AS cws FROM cbu GROUP BY s),
    cbl AS (SELECT list(cws ORDER BY s) AS cb_all FROM cb2),
    {_pq_enc_sql("pemb")}"""


@register(
    "ann_opq_adc_topk",
    oracle=f"""
    WITH perm AS MATERIALIZED (
      SELECT list(j ORDER BY md5('perm42|' || CAST(j AS VARCHAR)), j) AS p
      FROM (SELECT CAST(unnest(range(0, {_DIM})) AS INTEGER) AS j)
    ),
    pemb AS MATERIALIZED (
      SELECT vec_id,
             list_transform(perm.p, j -> CAST(embedding[j + 1] AS DOUBLE)) AS embedding
      FROM embeddings, perm
    ),
    {_opq_trained_cb_sql()},
    q AS (
      SELECT vec_id AS query_id,
             list_transform(perm.p, j -> CAST(embedding[j + 1] AS DOUBLE)) AS qvec
      FROM embeddings, perm WHERE vec_id >= 100 AND vec_id < 103
    ),
    scored AS (
      SELECT q.query_id, enc.vec_id, {_PQ_ADC_TERMS} AS adc_score
      FROM enc CROSS JOIN q, cbl
    )
    SELECT query_id, vec_id, adc_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="OPQ-lite (Ge et al., CVPR'13, rotation restricted to a "
    "permutation): dimensions are deterministically shuffled (md5 order) "
    "before subspace splitting, decorrelating which dims land in which "
    "codebook — the cheap version of OPQ's learned rotation that keeps "
    "every stage value-checkable (a full rotation matrix would too, but "
    "permutation preserves the inner product exactly, so ADC quality "
    "changes only through subspace composition). Same serving plan as "
    "ann_pq_trained_adc_topk; codebooks trained on the permuted slices, "
    "disk-persisted.",
    tags=("ann",),
)
def ann_opq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk, pq_encode

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    perm = _opq_perm()
    books = _opq_codebooks(spark, sf_dir, perm)

    def permute(vec_col):
        return F.transform(
            F.lit(perm), lambda j: F.element_at(as_double(F.col(vec_col)), j + 1)
        )

    permuted = emb.select("vec_id", permute("embedding").alias("pvec"))
    codes = pq_encode(permuted, books, vec_col="pvec")
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), permute("embedding").alias("qvec")
    )
    return pq_adc_topk(codes, queries, books, k=5)


# --- OPQ with a LEARNED permutation (variance-balancing allocation) -----------

_OPQL_VSCALE = 1024  # 2^10: keeps n * Σ q² inside int64 far past sf=1
_OPQL_PERM_CACHE: dict[str, list[int]] = {}


def _opq_learned_perm(spark: SparkSession, sf_dir: str) -> list[int]:
    """Variance-balancing dimension allocation — the learned version of
    OPQ-lite's md5 shuffle (OPQ's eigenvalue-allocation baseline with
    the rotation restricted to a permutation): rank dims by fixed-point
    variance, then snake-assign ranks across the m subspaces so each
    subspace receives an even mix of high- and low-variance dims.

    Determinism: per-dim stats are integer sums of ``floor(x * 2^10)``
    (var_fp = n·Σq² − (Σq)² — exact BIGINT; 2^10 bounds the products
    inside int64 far beyond sf=1), ranking and the snake are integer
    arithmetic, so DuckDB reproduces the permutation bit-for-bit. The
    64-row stats table is the same sanctioned driver boundary as
    centroid training."""
    key = sf_dir
    perm = _OPQL_PERM_CACHE.get(key)
    if perm is not None:
        return perm
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x") * F.lit(float(_OPQL_VSCALE))).cast("long")
    stats = (
        emb.filter(F.col("vec_id") % _PQ_TRAIN_MOD == 0)
        .select(F.posexplode(as_double(F.col("embedding"))).alias("j", "x"))
        .select("j", q.alias("q"))
        .groupBy("j")
        .agg(
            F.count("*").alias("n"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
        )
        .collect()
    )
    var_fp = {r["j"]: r["n"] * r["s2"] - r["s1"] * r["s1"] for r in stats}
    ranked = sorted(range(_DIM), key=lambda j: (-var_fp[j], j))
    m = _PQ_M
    assign = []  # (subspace, rank, dim)
    for r, j in enumerate(ranked):
        b = r % (2 * m)
        s = b if b < m else 2 * m - 1 - b
        assign.append((s, r, j))
    perm = [j for s, r, j in sorted(assign)]
    _OPQL_PERM_CACHE[key] = perm
    return perm


_OPQL_Q = (
    f"CAST(FLOOR(CAST(embedding[CAST(j AS INTEGER)+1] AS DOUBLE) * {_OPQL_VSCALE}.0) AS BIGINT)"
)

_OPQL_PERM_SQL = f"""vs AS (
      SELECT CAST(j AS INTEGER) AS j, COUNT(*) AS n,
             SUM({_OPQL_Q}) AS s1,
             SUM({_OPQL_Q} * {_OPQL_Q}) AS s2
      FROM embeddings, (SELECT unnest(range(0, {_DIM}))) t(j)
      WHERE vec_id % {_PQ_TRAIN_MOD} = 0
      GROUP BY j
    ),
    rk AS (
      SELECT j, row_number() OVER (ORDER BY n * s2 - s1 * s1 DESC, j) - 1 AS r
      FROM vs
    ),
    asg AS (
      SELECT j, r,
             CASE WHEN r % {2 * _PQ_M} < {_PQ_M} THEN r % {_PQ_M}
                  ELSE {2 * _PQ_M - 1} - (r % {2 * _PQ_M}) END AS s
      FROM rk
    ),
    perm AS MATERIALIZED (SELECT list(j ORDER BY s, r) AS p FROM asg)"""


@register(
    "ann_opq_learned_adc_topk",
    oracle=f"""
    WITH {_OPQL_PERM_SQL},
    pemb AS MATERIALIZED (
      SELECT vec_id,
             list_transform(perm.p, j -> CAST(embedding[j + 1] AS DOUBLE)) AS embedding
      FROM embeddings, perm
    ),
    {_opq_trained_cb_sql()},
    q AS (
      SELECT vec_id AS query_id,
             list_transform(perm.p, j -> CAST(embedding[j + 1] AS DOUBLE)) AS qvec
      FROM embeddings, perm WHERE vec_id >= 100 AND vec_id < 103
    ),
    scored AS (
      SELECT q.query_id, enc.vec_id, {_PQ_ADC_TERMS} AS adc_score
      FROM enc CROSS JOIN q, cbl
    )
    SELECT query_id, vec_id, adc_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="OPQ with a LEARNED permutation — the data-dependent upgrade of "
    "ann_opq_adc_topk's md5 shuffle: per-dim variances (fixed-point "
    "integer sums, so the statistic itself is bit-exact cross-engine) "
    "rank the dimensions, and a snake allocation deals ranks across the "
    "8 subspaces so each codebook sees a balanced variance budget — "
    "OPQ's eigenvalue-allocation baseline with the rotation restricted "
    "to a permutation. The learned permutation, the 8 per-subspace "
    "trainings on the permuted slices, the codes, and the ADC folds are "
    "all reproduced in DuckDB. (On the near-isotropic fixtures the "
    "allocation is nearly moot by construction — the measured value is "
    "the bit-exact learnable-preprocessing machinery, which is what a "
    "real OPQ deployment would swap its rotation into.)",
    tags=("ann",),
)
def ann_opq_learned_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk, pq_encode

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    perm = _opq_learned_perm(spark, sf_dir)
    books = _opq_codebooks(spark, sf_dir, perm, tag="opql")

    def permute(vec_col):
        return F.transform(
            F.lit(perm), lambda j: F.element_at(as_double(F.col(vec_col)), j + 1)
        )

    permuted = emb.select("vec_id", permute("embedding").alias("pvec"))
    codes = pq_encode(permuted, books, vec_col="pvec")
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), permute("embedding").alias("qvec")
    )
    return pq_adc_topk(codes, queries, books, k=5)


@register(
    "ann_pq_trained_adc_topk",
    oracle=f"""
    WITH {_pq_trained_cb_sql()},
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    scored AS (
      SELECT q.query_id, enc.vec_id, {_PQ_ADC_TERMS} AS adc_score
      FROM enc CROSS JOIN q, cbl
    )
    SELECT query_id, vec_id, adc_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="PQ with TRAINED codebooks: per subspace, the same fixed-point "
    "spherical k-means as the IVF coarse quantizer runs on the subvector "
    "slices (8 independent small trainings, offline, disk-persisted "
    "beside the IVF index) — the oracle unrolls all eight Lloyd's runs "
    "and still hash-matches codes and ADC scores exactly. The quality "
    "upgrade over ann_pq_adc_topk's first-C anchor, with identical "
    "serving-path plans.",
    tags=("ann",),
)
def ann_pq_trained_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk, pq_encode

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_trained_codebooks(spark, sf_dir)
    codes = pq_encode(emb, books)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return pq_adc_topk(codes, queries, books, k=5)


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CB_SQL},
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    scored AS (
      SELECT q.query_id, enc.vec_id, {_PQ_ADC_TERMS} AS adc_score
      FROM enc CROSS JOIN q, cbl
    )
    SELECT query_id, vec_id, adc_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Product-quantization ANN (Jégou et al. 2011), inner-product "
    "variant: 8 subspaces × 16 first-C codewords compress each 64-dim "
    "vector to 8 codes (32× scan bytes); queries score codes via an "
    "asymmetric-distance lookup sum. Every stage — codebook, argmax "
    "encoding, the ordered ADC fold — is bit-reproducible in DuckDB, so "
    "even this doubly-approximate path is value-checked. Scale: encoding "
    "is one shuffle-free corpus scan (persistable, like the IVF index); "
    "ADC is a broadcast-LUT map + TakeOrderedAndProject.",
    tags=("ann",),
)
def ann_pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk, pq_encode

    tune(spark)
    emb, cb = _pq_codebook(spark, sf_dir)
    codes = pq_encode(emb, cb)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return pq_adc_topk(codes, queries, cb, k=5)


@register(
    "ann_ivfpq_adc_topk",
    oracle=f"""
    WITH {_kmeans_fp_sql(_IVF_K, _IVF_ITERS, _DIM, _IVF_SCALE, _IVF_SAMPLE_MOD)},
    cent AS (SELECT centroid_id, cvec FROM cent{_IVF_ITERS}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    {_PQ_CB_SQL},
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, {_pq_adc_terms("p")} AS adc_score
      FROM assign a
      JOIN probes p USING (centroid_id)
      JOIN enc ON enc.vec_id = a.vec_id
      CROSS JOIN cbl
    )
    SELECT query_id, vec_id, adc_score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_score DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="IVF-PQ — the compound FAISS-style serving pipeline: probe the 2 "
    "nearest of 8 TRAINED inverted lists (fp k-means quantizer, "
    "bit-reproducible), then score only those candidates and only "
    "against their 8-code PQ forms via the ordered ADC fold. At scale: "
    "IVF prunes the scan to nprobe/nlists of the corpus, PQ shrinks the "
    "remainder by 32×, and no stage shuffles the corpus. Both halves AND "
    "their composition are value-checked against DuckDB.",
    tags=("ann",),
)
def ann_ivfpq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ann_ivfpq_adc_topk, pq_encode

    tune(spark)
    emb, cb = _pq_codebook(spark, sf_dir)
    codes = pq_encode(emb, cb)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_ivfpq_adc_topk(
        _ivf_inverted(spark, sf_dir),
        codes,
        _trained_quantizer(spark, sf_dir),
        queries,
        cb,
        k=5,
        nprobe=2,
    )


@register(
    "ann_ivfpq_rerank_topk",
    oracle=f"""
    WITH {_kmeans_fp_sql(_IVF_K, _IVF_ITERS, _DIM, _IVF_SCALE, _IVF_SAMPLE_MOD)},
    cent AS (SELECT centroid_id, cvec FROM cent{_IVF_ITERS}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    {_PQ_CB_SQL},
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c
      ) WHERE rn <= 2
    ),
    shortlist AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY {_pq_adc_terms("p")} DESC, a.vec_id) AS rn
        FROM assign a
        JOIN probes p USING (centroid_id)
        JOIN enc ON enc.vec_id = a.vec_id
        CROSS JOIN cbl
      ) WHERE rn <= 50
    )
    SELECT query_id, vec_id, similarity FROM (
      SELECT s.query_id, s.vec_id,
             {duck_cosine('e.embedding', 'q.qvec')} AS similarity,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY {duck_cosine('e.embedding', 'q.qvec')} DESC, s.vec_id) AS rn
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
    ) WHERE rn <= 5
    """,
    doc="Two-phase IVF-PQ retrieval: ADC shortlists 50 candidates from "
    "the probed lists (codes only — 8 ints/vector touched), then ONLY "
    "the shortlist's raw vectors are fetched for an exact cosine "
    "re-rank. The standard recall-recovery pattern over a lossy index "
    "(same shape as quant_int8_rerank_topk at int8): full-precision I/O "
    "is 50 vectors per query instead of the corpus. Value-checked "
    "through every stage.",
    tags=("ann",),
)
def ann_ivfpq_rerank_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.pq import ann_ivfpq_adc_topk, pq_encode

    tune(spark)
    emb, cb = _pq_codebook(spark, sf_dir)
    codes = pq_encode(emb, cb)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    shortlist = ann_ivfpq_adc_topk(
        _ivf_inverted(spark, sf_dir),
        codes,
        _trained_quantizer(spark, sf_dir),
        queries,
        cb,
        k=50,
        nprobe=2,
    ).select("query_id", "vec_id")
    rescored = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_sim(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "ann_pq_trained_recall",
    oracle=f"""
    WITH {_pq_trained_cb_sql()},
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 10),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, enc.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_PQ_ADC_TERMS} DESC, enc.vec_id) AS rn
        FROM enc CROSS JOIN q, cbl
      ) WHERE rn <= 5
    ),
    {_exact_top5_sql('vec_id < 10')}
    {_RECALL_TAIL_SQL}
    """,
    doc="Recall@5 of trained-codebook PQ-ADC against the exact scan — "
    "the monitor that justifies (or indicts) a codebook: on the "
    "near-uniform fixtures an 8×16 codebook compresses 64 dims to 8 "
    "codes, so recall is expectedly modest; the value-checked recall "
    "arithmetic is the point, and the number moves with codebook "
    "quality while the serving plan stays fixed.",
    tags=("ann",),
)
def ann_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk, pq_encode

    tune(spark)
    books = _pq_trained_codebooks(spark, sf_dir)

    def approx(emb, queries):
        return pq_adc_topk(pq_encode(emb, books), queries, books, k=5)

    return _recall_vs_exact(spark, sf_dir, approx)


@register(
    "pq_reconstruction_error",
    oracle=f"""
    WITH {_PQ_CB_SQL},
    rec AS (
      SELECT enc.vec_id, enc.embedding,
             flatten(list_transform(range(0, {_PQ_M}),
                     s -> cb_all[CAST(s AS INTEGER)+1][enc.codes[CAST(s AS INTEGER)+1]+1])) AS recon
      FROM enc, cbl
    )
    SELECT vec_id, {duck_cosine('embedding', 'recon')} AS recon_cosine
    FROM rec
    ORDER BY recon_cosine ASC, vec_id ASC
    LIMIT 20
    """,
    doc="PQ codebook-quality monitor: cosine between each vector and its "
    "codeword reconstruction; returns the 20 WORST reconstructions "
    "(deterministic order — no fp-order-dependent global mean). On the "
    "near-uniform fixtures first-C codebooks reconstruct poorly by "
    "design; the monitor is what a trained-codebook upgrade would move. "
    "Plan: encode→reconstruct→cosine FUSED into one projection over the "
    "corpus (pq_encode_col/pq_reconstruct_col) + TakeOrderedAndProject — "
    "the r12 sweep caught the previous pq_encode→pq_reconstruct→join "
    "form shuffle-joining two 64-double arrays per vector on vec_id "
    "(173.9 s for 20 rows at sf10); same expressions, zero shuffles now.",
    tags=("ann", "approx"),
)
def pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization (guide §4.1): the fused HOF form still paid
    # m·k interpreted dot lambdas per row (~1000 multiply-add evals per
    # vector) in pq_encode_col plus 3 interpreted cosine folds. Encode
    # is now the unrolled leveled form (pq_encode_unrolled — codes
    # bit-identical, pinned), reconstruction stays the cheap m-element
    # HOF lookup, and the cosine is the unrolled fixed-dim kernel.
    # Still one corpus scan, zero joins/exchanges (plan-pinned).
    from ..functions.vector import cosine_sim_sql
    from ..operators.pq import pq_encode_unrolled, pq_reconstruct_col

    tune(spark)
    _no_wscg(spark)
    emb, cb = _pq_codebook(spark, sf_dir)
    coded = pq_encode_unrolled(emb.select("vec_id", "embedding"), cb)
    recon = pq_reconstruct_col(cb, F.col("codes"))
    l3 = coded.select("vec_id", "embedding", recon.alias("__recon"))
    return (
        l3.select(
            "vec_id",
            F.expr(cosine_sim_sql("embedding", "__recon", 64)).alias("recon_cosine"),
        )
        .orderBy(F.asc("recon_cosine"), F.asc("vec_id"))
        .limit(20)
    )


# --- cross-engine 1M-corpus generator (r12) ---------------------------------
#
# Until r12 the two 1M scale demos generated their vectors with
# ``xxhash64`` — engine-side only, so they were the catalog's last two
# oracle-less entries. This quadratic mix over the 2^31-1 prime field
# replaces it: only BIGINT +/*/% with every intermediate < 2^62, hence
# exact and overflow-free in BOTH Spark (Java long wraps never needed)
# and DuckDB (which raises on BIGINT overflow) — the corpus, and
# therefore the demos' top-k results, are now value-checked cross-engine
# like every other catalog query. Design notes: two SQUARING rounds are
# the nonlinearity — a Lehmer-style multiplicative chain is linear in
# the seed, which collapsed the corpus into a lattice (measured:
# literally identical vectors 279117 ids apart); with the quadratic mix
# the pairwise-cosine spread over the corpus is a clean zero-centred
# bell (σ≈0.12, no duplicate top-k).
#
# Cost honesty: cross-engine checkability is NOT free on this
# generation-dominated microbench. HOF lambdas evaluate INTERPRETED
# (array transforms never enter whole-stage codegen), so every
# expression node in the component formula is paid 64M times; xxhash64
# was ONE native call where the mix is ~10 arithmetic nodes. Measured
# warm at the 1M corpus: xxhash64 ~2.2 s → naive mix 4.3 s → 2.9-3.0 s
# after two value-preserving rewrites below (the scoring path the demo
# actually benchmarks is unchanged; the ~0.7 s residual is the price of
# the oracle). The rewrites, both exact-value-neutral:
#   1. per-row seed id*65537 HOISTED into a projected column — inline
#      it in the lambda and it re-evaluates per element;
#   2. the per-element term salt + j*8191 folded into a 64-int LITERAL
#      array that transform() iterates directly (no sequence(), no
#      per-element multiply);
#   3. plain % instead of pmod — operands provably nonnegative, same
#      values, no per-element branch.
_B1M_MIXP = 2147483647  # 2^31 - 1, prime; squares stay < 2^62


def _b1m_val(h1):
    """ONE vector component in [-1, 1) from the first-round mix value
    ``h1`` (caller computes ``(seed + elem) % P``)."""
    h2 = (h1 * h1 + h1 + F.lit(41)) % F.lit(_B1M_MIXP)
    h3 = (h2 * h2 + F.lit(17)) % F.lit(_B1M_MIXP)
    return ((h3 % F.lit(2000)) - 1000).cast("double") / 1000.0


def _b1m_seed(idx):
    """Per-row stream seed ``id*65537``. MUST be materialized as a
    projected column before the transform() when idx spans many rows —
    a column reference inside the lambda costs one bound lookup per
    element, while the inline multiply would re-evaluate per element
    (measured: 0.5 s of the 4.3→2.9 s recovery)."""
    return idx * 65537


def _b1m_vec(seed, salt, dim=64):
    """A whole generated vector (Spark) from a (materialized) stream
    seed. Distinct ``salt`` = distinct independent stream (12345
    noise/uniform corpus, 54321 centroids). The j-dependent term is a
    literal int array, so the lambda body is add, 3 mods, 2 squares.

    This HOF Column form is kept for SMALL row counts (the 64-row
    centroid job, parity tests): HOF lambdas evaluate interpreted, so
    at corpus scale use :func:`_b1m_vectors` (bit-identical values,
    pinned by ``test_b1m_leveled_matches_hof_bitwise``)."""
    elems = F.lit([salt + j * 8191 for j in range(dim)])
    return F.transform(
        elems, lambda e: _b1m_val((seed + e) % F.lit(_B1M_MIXP))
    )


def _b1m_vectors(
    df: DataFrame,
    seed_sql: str,
    salt: int,
    dim: int = 64,
    out: str = "embedding",
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """Corpus-scale twin of :func:`_b1m_vec`: the SAME prime-field mix
    (identical integer ops, identical doubles) built as THREE stacked
    64-column projections + one array() assembly instead of a
    ``transform()`` lambda (r12 optimization round, guide §4.1).

    WHY: HOF lambdas evaluate interpreted — at 1M×64 every expression
    node in the component formula was paid 64M times in the expression
    interpreter (measured 3.5 s warm for bench_knn_1m). Plain unrolled
    arithmetic is codegen-able, and the LEVELED layout (h1 → h2 → v as
    named columns) lets each round's result be computed once instead of
    textually duplicating subtrees (CollapseProject keeps multi-use
    aliases in their own Project). Each level's expressions are tiny,
    so the per-operator UnsafeProjections JIT-compile; the plans built
    on this builder disable whole-stage codegen for their own execution
    (see ``bench_knn_1m``) because the FUSED stage would exceed
    HotSpot's huge-method JIT limit and fall back to the bytecode
    interpreter. Measured: generation 3.9 s → 0.44 s warm at 1M×64.

    ``keep`` columns are carried through every level unchanged.
    """
    p = _B1M_MIXP
    keep_l = list(keep)
    h1 = [
        f"(({seed_sql}) + {salt + j * 8191}) % {p} AS __h1_{j}" for j in range(dim)
    ]
    l1 = df.selectExpr(*keep_l, *h1)
    h2 = [
        f"(__h1_{j} * __h1_{j} + __h1_{j} + 41) % {p} AS __h2_{j}"
        for j in range(dim)
    ]
    l2 = l1.selectExpr(*keep_l, *h2)
    v = [
        f"CAST(((__h2_{j} * __h2_{j} + 17) % {p}) % 2000 - 1000 AS DOUBLE)"
        f" / 1000.0D AS __v_{j}"
        for j in range(dim)
    ]
    l3 = l2.selectExpr(*keep_l, *v)
    arr = "array(" + ",".join(f"__v_{j}" for j in range(dim)) + ")"
    return l3.selectExpr(*keep_l, f"{arr} AS {out}")




def _b1m_vec_sql(id_expr: str, salt: int, dim: int = 64) -> str:
    """DuckDB twin of ``_b1m_vec`` — bitwise-identical doubles (integer
    mix is exact in both engines; k/1000.0 is one correctly-rounded IEEE
    division of the same integer in both)."""
    return (
        f"list_transform(list_transform(list_transform(range(0, {dim}), "
        f"j -> (({id_expr})*65537 + j*8191 + {salt}) % {_B1M_MIXP}), "
        f"h -> (h*h + h + 41) % {_B1M_MIXP}), "
        f"h -> (((h*h + 17) % {_B1M_MIXP}) % 2000 - 1000) / 1000.0)"
    )


_B1M_COSINE = (
    "list_dot_product(embedding, qvec) / "
    "(sqrt(list_dot_product(embedding, embedding)) * "
    "sqrt(list_dot_product(qvec, qvec)))"
)


@register(
    "bench_knn_1m",
    oracle=f"""
    WITH corpus AS (
      SELECT range AS vec_id, {_b1m_vec_sql('range', 12345)} AS embedding
      FROM range(1000000)
    ),
    q AS (SELECT embedding AS qvec FROM corpus WHERE vec_id = 0)
    SELECT corpus.vec_id, {_B1M_COSINE} AS similarity
    FROM corpus, q
    ORDER BY similarity DESC, vec_id ASC
    LIMIT 10
    """,
    doc="Scale-posture demo: exact cosine top-10 over a generated "
    "1M-row×64-dim corpus (deterministic prime-field mix vectors, zero "
    "I/O) — shows the scoring path's raw throughput and that "
    "TakeOrderedAndProject holds at 3 orders of magnitude above the "
    "fixtures. Since r12 the generator is cross-engine exact (see the "
    "section comment), so even this demo is full-value oracle-checked: "
    "DuckDB regenerates the same 1M corpus and must produce the same "
    "top-10 ids AND bitwise-equal similarities.",
    tags=("ann", "bench"),
)
def bench_knn_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization round (guide §4.1/§2.4): the HOF generator +
    # HOF cosine paid ~400 interpreted lambda evals per row (3.5 s
    # warm); now generation is the leveled codegen-able mix
    # (_b1m_vectors) and scoring the unrolled sequential fold
    # (dot_fold_sql) — bit-identical values (oracle + pinned tests),
    # 0.8 s warm. The round-robin repartition Exchange is gone too:
    # spark.range already emits defaultParallelism balanced splits.
    # Whole-stage codegen is scope-disabled for this plan (_no_wscg —
    # the fused stage would run in the JVM bytecode interpreter).
    tune(spark)
    _no_wscg(spark)
    from ..functions.vector import dot_fold_sql

    n = 1_000_000
    base = spark.range(n).select(
        F.col("id").alias("vec_id"), _b1m_seed(F.col("id")).alias("__seed")
    )
    corpus = _b1m_vectors(base, "__seed", 12345)
    q = corpus.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    sim = F.expr(
        f"{dot_fold_sql('embedding', 'qvec', 64)}"
        f" / (SQRT({dot_fold_sql('embedding', 'embedding', 64)})"
        f" * SQRT({dot_fold_sql('qvec', 'qvec', 64)}))"
    )
    scored = corpus.crossJoin(F.broadcast(q)).select("vec_id", sim.alias("similarity"))
    return scored.orderBy(F.desc("similarity"), F.asc("vec_id")).limit(10)


# int8 quantize→dequantize in one expression: every step is exact fp64
# (power-of-two scale), so the quantized search path value-matches DuckDB.
_DEQ = (
    "list_transform({e}::DOUBLE[], "
    "x -> greatest(-127.0, least(127.0, floor(x * 64.0))) / 64.0)"
)


@register(
    "quant_int8_topk",
    oracle=f"""
    WITH dq AS (SELECT vec_id, {_DEQ.format(e='embedding')} AS deq FROM embeddings),
    q AS (SELECT deq AS qdeq FROM dq WHERE vec_id = 0)
    SELECT dq.vec_id, {duck_cosine('dq.deq', 'q.qdeq')} AS similarity
    FROM dq, q
    ORDER BY similarity DESC, dq.vec_id ASC
    LIMIT 5
    """,
    doc="Top-5 cosine over the INT8-QUANTIZED corpus "
    "(operators/quant.py): clamp(floor(x*64), ±127) stored as tinyint — "
    "4× smaller scans than float32 at 100 TB, with exact re-ranking on "
    "the originals as the standard second phase. The power-of-two scale "
    "makes quantize/dequantize exact fp64 ops, so even this approximate "
    "path is value-checked against DuckDB.",
    tags=("ann", "quant"),
)
def quant_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from ..operators.quant import dequantize_vec, quantize_embeddings

    emb = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.select("vec_id", dequantize_vec(F.col("qvec")).alias("deq"))
    q = corpus.filter(F.col("vec_id") == 0).select(F.col("deq").alias("qdeq"))
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "vec_id", cosine_sim(F.col("deq"), F.col("qdeq")).alias("similarity")
    )
    return scored.orderBy(F.desc("similarity"), F.asc("vec_id")).limit(5)


@register(
    "quant_int8_rerank_topk",
    oracle=f"""
    WITH dq AS (
      SELECT vec_id, embedding, {_DEQ.format(e='embedding')} AS deq FROM embeddings
    ),
    q AS (SELECT embedding AS qexact, deq AS qdeq FROM dq WHERE vec_id = 0),
    shortlist AS (
      SELECT dq.vec_id, dq.embedding, q.qexact
      FROM dq, q
      ORDER BY {duck_cosine('dq.deq', 'q.qdeq')} DESC, dq.vec_id ASC
      LIMIT 20
    )
    SELECT vec_id, {duck_cosine('embedding', 'qexact')} AS similarity
    FROM shortlist
    ORDER BY similarity DESC, vec_id ASC
    LIMIT 5
    """,
    doc="TWO-PHASE retrieval — the standard quantized deployment shape: "
    "phase 1 shortlists top-20 on the int8-quantized corpus (4× cheaper "
    "scan bytes), phase 2 re-ranks the 20 survivors with exact "
    "full-precision cosine. Both phases deterministic, so the composed "
    "pipeline is value-checked end to end.",
    tags=("ann", "quant"),
)
def quant_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from ..operators.quant import dequantize_vec, quantize_embeddings

    emb = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.select(
        "vec_id", "embedding", dequantize_vec(F.col("qvec")).alias("deq")
    )
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qexact"), F.col("deq").alias("qdeq")
    )
    shortlist = (
        corpus.crossJoin(F.broadcast(q))
        .orderBy(F.desc(cosine_sim(F.col("deq"), F.col("qdeq"))), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "embedding", "qexact")
    )
    return (
        shortlist.select(
            "vec_id", cosine_sim(F.col("embedding"), F.col("qexact")).alias("similarity")
        )
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(5)
    )


_SIGN_MASK = (
    "CAST(list_sum(list_transform(range(0, 32), j -> "
    "CASE WHEN CAST({e}[CAST(j AS INTEGER) + {off}] AS DOUBLE) > 0 "
    "THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)"
)

_HAM = (
    "CAST(bit_count(xor(m.lo, qm.qlo)) + bit_count(xor(m.hi, qm.qhi)) AS BIGINT)"
)


@register(
    "ann_signbits_rerank_topk",
    oracle=f"""
    WITH masks AS (
      SELECT vec_id,
             {_SIGN_MASK.format(e='embedding', off=1)} AS lo,
             {_SIGN_MASK.format(e='embedding', off=33)} AS hi
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    qm AS (
      SELECT q.query_id, q.qvec, m.lo AS qlo, m.hi AS qhi
      FROM q JOIN masks m ON m.vec_id = q.query_id
    ),
    cand AS (
      SELECT query_id, qvec, vec_id, hamming FROM (
        SELECT qm.query_id, qm.qvec, m.vec_id, {_HAM} AS hamming,
               row_number() OVER (PARTITION BY qm.query_id
                                  ORDER BY {_HAM} ASC, m.vec_id ASC) AS rn
        FROM masks m CROSS JOIN qm
      ) WHERE rn <= 64
    )
    SELECT query_id, vec_id, hamming, similarity FROM (
      SELECT c.query_id, c.vec_id, c.hamming,
             {duck_cosine('e.embedding', 'c.qvec')} AS similarity,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY {duck_cosine('e.embedding', 'c.qvec')} DESC,
                                         c.vec_id ASC) AS rn
      FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
    ) WHERE rn <= 5
    """,
    doc="Binary-hash two-phase retrieval: each 64-dim vector compresses "
    "to its 64 SIGN BITS in two BIGINTs (8 bytes — 32x below the fp64 "
    "scan), candidates are the 64 nearest by Hamming distance "
    "(bit_count(xor), pure integer codegen — the cheapest candidate "
    "generator in the catalog, cheaper even than int8), and the "
    "survivors are re-ranked with exact cosine. The sign-bit index is "
    "the degenerate 1-bit scalar quantizer every binary-hashing paper "
    "builds on; masks, Hamming ranking, and the rerank are all "
    "bit-reproduced in DuckDB.",
    tags=("ann", "quant"),
)
def ann_signbits_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.quant import hamming64, signbit_masks

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    masks = signbit_masks(emb)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qm = queries.join(
        masks.select(
            F.col("vec_id").alias("query_id"),
            F.col("lo").alias("qlo"),
            F.col("hi").alias("qhi"),
        ),
        "query_id",
    )
    ham = hamming64(F.col("lo"), F.col("hi"), F.col("qlo"), F.col("qhi"))
    w_h = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    cand = (
        masks.crossJoin(F.broadcast(qm))
        .select("query_id", "qvec", "vec_id", ham.alias("hamming"))
        .withColumn("rn", F.row_number().over(w_h))
        .filter(F.col("rn") <= 64)
        .drop("rn")
    )
    rescored = cand.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "query_id",
        "vec_id",
        "hamming",
        cosine_sim(F.col("embedding"), F.col("qvec")).alias("similarity"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "quant_int8_roundtrip_error",
    oracle=f"""
    SELECT vec_id,
           list_max(list_transform(range(1, 65),
             i -> abs({_DEQ.format(e='embedding')}[i] - CAST(embedding[i] AS DOUBLE))))
             AS max_abs_err
    FROM embeddings
    """,
    doc="Quantization drift monitor: per-vector max |dequant(int8(x)) - x| "
    "— bounded by 1/64 (floor grid), asserted in pytest; the quality "
    "metric a quantized deployment tracks next to ANN recall.",
    tags=("ann", "quant"),
)
def quant_int8_roundtrip_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    from ..operators.quant import dequantize_vec, quantize_embeddings

    emb = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    err = F.array_max(
        F.zip_with(
            dequantize_vec(F.col("qvec")),
            as_double(F.col("embedding")),
            lambda a, b: F.abs(a - b),
        )
    )
    return emb.select("vec_id", err.alias("max_abs_err"))


_QUESTION = "how does a spark table scan work"
_CHUNK, _OVERLAP, _EDIM = 200, 40, 8
_STRIDE = _CHUNK - _OVERLAP


@register(
    "rag_e2e_retrieval",
    oracle=f"""
    WITH chunks AS (
      SELECT * FROM (
        SELECT d.doc_id,
               CAST(s.pos // {_STRIDE} AS BIGINT) AS chunk_id,
               substr(d.text, CAST(s.pos AS INTEGER) + 1, {_CHUNK}) AS chunk_text
        FROM documents d,
             LATERAL (SELECT unnest(generate_series(0, greatest(length(d.text) - 1, 0), {_STRIDE}))) AS s(pos)
      ) WHERE length(trim(chunk_text)) > 0
    ),
    emb AS (
      SELECT doc_id, chunk_id, {duck_hash_embedding('chunk_text', _EDIM)} AS embedding
      FROM chunks
    ),
    q AS (SELECT {duck_hash_embedding(f"'{_QUESTION}'", _EDIM)} AS qvec)
    SELECT emb.doc_id, emb.chunk_id, {duck_cosine('emb.embedding', 'q.qvec')} AS similarity
    FROM emb, q
    ORDER BY similarity DESC, emb.doc_id, emb.chunk_id
    LIMIT 5
    """,
    doc="The COMPLETE reference pipeline, end-to-end and oracle-checked: "
    "documents → sliding-window chunker (App.tsx:57-61) → deterministic "
    "embedder (test-mode U1/U2) → brute-force cosine top-5 "
    "(vectorDb.ts:11-24) for a fixed question string (App.tsx:180-224).",
    tags=("rag", "flagship"),
)
def rag_e2e_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization round (guide §4.1/§4.4-analog): the r11 form's
    # comment claimed the literal-question embedding constant-folds —
    # it did NOT (HOFs are never foldable): the before-plan showed the
    # 8-dim question transform INLINED FIVE TIMES into the per-row
    # similarity CASE, i.e. 40 extra interpreted md5 calls per chunk,
    # plus the chunk embedding + 3 dot folds all interpreted (1.33 s
    # warm at sf0.1). Now: the question embedding is computed ONCE on
    # the driver (HashEmbedder.embed_one — bit-equal to the Catalyst
    # path, pinned by test_hash_embedding_unrolled_bitwise) and inlined
    # as double literals; the chunk embedder and the cosine folds are
    # the unrolled codegen-able forms. Values identical (oracle
    # hash-green at sf0.001/0.01/0.1).
    tune(spark)
    from ..embedder import HashEmbedder, hash_embedding_sql
    from ..functions.vector import _dlit, dot_fold_sql

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_size=_CHUNK, overlap=_OVERLAP)
    emb = chunks.select(
        "doc_id",
        "chunk_id",
        F.expr(hash_embedding_sql("chunk_text", _EDIM)).alias("embedding"),
    )
    q = HashEmbedder(_EDIM).embed_one(_QUESTION)
    qq = 0.0
    for x in q:  # same left fold as functions.vector.dot — bit-exact
        qq = qq + x * x
    nb = math.sqrt(qq)
    na_sql = f"SQRT({dot_fold_sql('embedding', 'embedding', _EDIM)})"
    dot_q = "(0.0D" + "".join(
        f" + (embedding)[{i}] * {_dlit(v)}" for i, v in enumerate(q)
    ) + ")"
    sim = F.expr(
        f"CASE WHEN {na_sql} = 0.0D OR {_dlit(nb)} = 0.0D THEN 0.0D"
        f" ELSE {dot_q} / ({na_sql} * {_dlit(nb)}) END"
    )
    scored = emb.select("doc_id", "chunk_id", sim.alias("similarity"))
    return scored.orderBy(F.desc("similarity"), F.asc("doc_id"), F.asc("chunk_id")).limit(5)


# === clustered-corpus recall monitors ========================================
#
# The fixture embeddings are near-uniform random vectors (max pairwise
# cosine ~0.33), which caps recall@5 around 0.73 for ANY quantizer and
# makes ANN quality unmeasurable (NEXT.md, round-4 VERDICT item 5). The
# queries below plant real cluster structure IN-QUERY — deterministic
# hash centroids plus hash noise, every component an md5 fold both
# engines reproduce bitwise — and measure recall where a quantizer can
# actually earn it: trained IVF reaches ~0.92 recall@5 at nprobe=1 while
# the untrained first-C quantizer sits near 0.70 on the same corpus.

_CL_N, _CL_C, _CL_DIM = 512, 8, 16
_CL_NOISE = 0.8
_CL_K, _CL_ITERS = 8, 2


#: Materialized clustered corpus, one per SparkSession: generation is a
#: wide md5-fold expression whose whole-stage codegen dominates the tiny
#: 512-row dataflow, so both clustered-recall queries share one cached
#: materialization instead of recompiling it per plan branch.
_CL_CORPUS_CACHE: dict[str, DataFrame] = {}


def _clustered_corpus_df(spark: SparkSession) -> DataFrame:
    """``(vec_id, embedding)``: 512 vectors in 8 planted clusters.

    ``embedding(i) = hash_emb(cluster(i)) + 0.8 * hash_emb(i)`` where
    ``cluster(i) = md5-fold(i) % 8`` — pure Catalyst expressions over
    ``spark.range``, zero I/O, reproducible in DuckDB SQL."""
    from ..functions.text import hex13_to_long

    key = spark.sparkContext.applicationId
    cached = _CL_CORPUS_CACHE.get(key)
    if cached is not None:
        return cached
    ids = spark.range(0, _CL_N, 1, 8).select(F.col("id").cast("long").alias("vec_id"))
    cl = (
        hex13_to_long(F.md5(F.concat(F.lit("cl42|"), F.col("vec_id").cast("string"))))
        % _CL_C
    )
    cvec = hash_embedding_expr(cl.cast("string"), _CL_DIM, "cc42")
    nvec = hash_embedding_expr(F.col("vec_id").cast("string"), _CL_DIM, "nn42")
    emb = F.zip_with(cvec, nvec, lambda a, b: a + F.lit(float(_CL_NOISE)) * b)
    corpus = ids.select("vec_id", emb.alias("embedding")).persist()
    corpus.count()  # materialize once — downstream branches read the cache
    _CL_CORPUS_CACHE[key] = corpus
    return corpus


_CL_CLUSTER_EXPR = (
    "CAST("
    + duck_hex13_to_long("md5('cl42|' || CAST(vec_id AS VARCHAR))")
    + f" % {_CL_C} AS VARCHAR)"
)
_CL_CC_FOLD = duck_fold_unit("'cc42|' || j || '|' || " + _CL_CLUSTER_EXPR)
_CL_NN_FOLD = duck_fold_unit("'nn42|' || j || '|' || CAST(vec_id AS VARCHAR)")

_CL_CORPUS_SQL = f"""corpus AS MATERIALIZED (
      SELECT vec_id,
             list_transform(range(0, {_CL_DIM}), j ->
               {_CL_CC_FOLD}
               + CAST({_CL_NOISE} AS DOUBLE) * {_CL_NN_FOLD}
             ) AS embedding
      FROM (SELECT unnest(range(0, {_CL_N})) AS vec_id)
    )"""

_CL_Q_SQL = "q AS (SELECT vec_id AS query_id, embedding AS qvec FROM corpus WHERE vec_id >= 100 AND vec_id < 110)"

_CL_EXACT_SQL = f"""exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('e.embedding', 'q.qvec')} DESC, e.vec_id) AS rn
        FROM corpus e CROSS JOIN q
      ) WHERE rn <= 5
    )"""


def _cl_ivf_sql(tag: str, cent: str, nprobe: int, k: int = 5) -> str:
    """assignment + probe + per-list top-k CTEs for one quantizer."""
    return f"""assign_{tag} AS MATERIALIZED (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM corpus e CROSS JOIN {cent} c
      ) WHERE rn = 1
    ),
    probes_{tag} AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn <= {nprobe}
    ),
    approx_{tag} AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY {duck_cosine('a.embedding', 'p.qvec')} DESC, a.vec_id) AS rn
        FROM assign_{tag} a JOIN probes_{tag} p USING (centroid_id)
      ) WHERE rn <= {k}
    )"""


def _cl_recall_sql(tag: str, out: str) -> str:
    return f"""r_{tag} AS (
      SELECT e.query_id,
             CAST(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS DOUBLE) AS {out}
      FROM exact e LEFT JOIN approx_{tag} a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    )"""


#: Trained clustered-corpus quantizer, one per session (deterministic —
#: memoization is result-invisible; both clustered queries share it).
_CL_TRAIN_CACHE: dict[str, list[tuple[int, list[float]]]] = {}


def _cl_trained_centroids(spark: SparkSession, corpus: DataFrame):
    from ..operators.kmeans import kmeans_fit_spherical_fp_values

    key = spark.sparkContext.applicationId
    cents = _CL_TRAIN_CACHE.get(key)
    if cents is None:
        cents = kmeans_fit_spherical_fp_values(
            corpus, k=_CL_K, iterations=_CL_ITERS, scale=_IVF_SCALE
        )
        _CL_TRAIN_CACHE[key] = cents
    return cents


def _cl_recall5(exact: DataFrame, approx: DataFrame, out: str) -> DataFrame:
    a = approx.select(
        F.col("query_id").alias("__qa"), F.col("vec_id").alias("__va")
    )
    return (
        exact.join(
            a,
            (exact.query_id == F.col("__qa")) & (exact.vec_id == F.col("__va")),
            "left",
        )
        .groupBy(exact.query_id.alias("query_id"))
        .agg((F.count("__va").cast("double") / F.count("*")).cast("double").alias(out))
    )


@register(
    "ann_ivf_clustered_recall",
    oracle=f"""
    WITH {_CL_CORPUS_SQL},
    {_kmeans_fp_sql_g("cl", "corpus", _CL_K, _CL_ITERS, _CL_DIM, _IVF_SCALE)},
    cent_t AS MATERIALIZED (SELECT centroid_id, cvec FROM clcent{_CL_ITERS}),
    cent_f AS MATERIALIZED (SELECT centroid_id, cvec FROM clcent0),
    {_CL_Q_SQL},
    {_CL_EXACT_SQL},
    {_cl_ivf_sql("t", "cent_t", 1)},
    {_cl_ivf_sql("f", "cent_f", 1)},
    {_cl_recall_sql("t", "recall_trained")},
    {_cl_recall_sql("f", "recall_firstc")}
    SELECT r_t.query_id, recall_trained, recall_firstc
    FROM r_t JOIN r_f USING (query_id)
    """,
    doc="Recall@5 on the PLANTED-CLUSTER corpus, trained IVF vs the "
    "untrained first-C quantizer, both at nprobe=1: trained Lloyd's "
    "centroids recover the 8 planted clusters and recall ~0.92 mean; "
    "first-C (centroids = first 8 noisy points, clusters duplicated and "
    "missing) splits clusters across lists and drops to ~0.70. This is "
    "the measurement the near-uniform fixtures cannot express — the "
    "quantizer-quality monitor a production index build would gate on. "
    "Fully value-checked: corpus, training (fixed-point Lloyd's), "
    "probes, and the recall arithmetic are all bit-reproducible SQL.",
    tags=("ann", "recall"),
)
def ann_ivf_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_fit_spherical_fp_values
    from ..operators.knn import knn_join

    tune(spark)
    corpus = _clustered_corpus_df(spark)
    trained = _cl_trained_centroids(spark, corpus)
    firstc = kmeans_fit_spherical_fp_values(
        corpus, k=_CL_K, iterations=0, scale=_IVF_SCALE
    )
    schema = "centroid_id int, cvec array<double>"
    t_df = spark.createDataFrame(trained, schema)
    f_df = spark.createDataFrame(firstc, schema)
    queries = corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = knn_join(corpus, queries, k=5).select("query_id", "vec_id")
    ap_t = ann_ivf_topk(corpus, t_df, queries, k=5, nprobe=1).select("query_id", "vec_id")
    ap_f = ann_ivf_topk(corpus, f_df, queries, k=5, nprobe=1).select("query_id", "vec_id")
    r_t = _cl_recall5(exact, ap_t, "recall_trained")
    r_f = _cl_recall5(exact, ap_f, "recall_firstc")
    return r_t.join(r_f, "query_id")


_CLPQ_M, _CLPQ_K, _CLPQ_SUB = 4, 16, 4


def _clpq_cb_sql() -> str:
    """First-C PQ codebooks + encode over the clustered corpus (the
    generic twin of ``_PQ_CB_SQL``, parameterized to m=4 x sub=4, k=16
    and the generated ``corpus`` CTE)."""
    m, k, sub = _CLPQ_M, _CLPQ_K, _CLPQ_SUB
    sc = "CAST(s AS INTEGER)"
    cc = "CAST(c AS INTEGER)"
    dotc = (
        f"list_dot_product(list_slice(e.embedding::DOUBLE[], s*{sub}+1, (s+1)*{sub}), "
        f"cb_all[{sc}+1][{cc}+1])"
    )
    return f"""clcb AS (
      SELECT s.s, r.code,
             list_slice(r.embedding::DOUBLE[], s.s*{sub}+1, (s.s+1)*{sub}) AS cw
      FROM (SELECT unnest(range(0, {m}))) s(s)
      CROSS JOIN (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                         embedding
                  FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT {k})) r
    ),
    clcb2 AS (SELECT s, list(cw ORDER BY code) AS cws FROM clcb GROUP BY s),
    clcbl AS (SELECT list(cws ORDER BY s) AS cb_all FROM clcb2),
    clenc AS MATERIALIZED (
      SELECT e.vec_id,
        list_transform(range(0, {m}), s ->
          CAST(list_position(
            list_transform(range(0, {k}), c -> {dotc}),
            list_max(list_transform(range(0, {k}), c -> {dotc}))
          ) - 1 AS INTEGER)) AS codes
      FROM corpus e, clcbl
    )"""


_CLPQ_ADC_TERMS = " + ".join(
    f"list_dot_product(list_slice(p.qvec::DOUBLE[], {s * _CLPQ_SUB + 1}, {(s + 1) * _CLPQ_SUB}), "
    f"cb_all[{s + 1}][clenc.codes[{s + 1}]+1])"
    for s in range(_CLPQ_M)
)


@register(
    "ann_ivfpq_clustered_recall",
    oracle=f"""
    WITH {_CL_CORPUS_SQL},
    {_kmeans_fp_sql_g("cl", "corpus", _CL_K, _CL_ITERS, _CL_DIM, _IVF_SCALE)},
    cent_t AS MATERIALIZED (SELECT centroid_id, cvec FROM clcent{_CL_ITERS}),
    {_CL_Q_SQL},
    {_CL_EXACT_SQL},
    {_clpq_cb_sql()},
    assign_t AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM corpus e CROSS JOIN cent_t c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.query_id, q.qvec, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent_t c
      ) WHERE rn <= 2
    ),
    ranked AS MATERIALIZED (
      SELECT p.query_id, p.qvec, a.vec_id,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY {_CLPQ_ADC_TERMS} DESC, a.vec_id) AS rn
      FROM assign_t a
      JOIN probes p USING (centroid_id)
      JOIN clenc ON clenc.vec_id = a.vec_id
      CROSS JOIN clcbl
    ),
    adc5 AS (SELECT query_id, vec_id FROM ranked WHERE rn <= 5),
    shortlist AS (SELECT query_id, qvec, vec_id FROM ranked WHERE rn <= 40),
    rerank AS (
      SELECT query_id, vec_id FROM (
        SELECT s.query_id, s.vec_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY {duck_cosine('e.embedding', 's.qvec')} DESC, s.vec_id) AS rn
        FROM shortlist s JOIN corpus e ON e.vec_id = s.vec_id
      ) WHERE rn <= 5
    ),
    r_adc AS (
      SELECT e.query_id,
             CAST(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS DOUBLE) AS recall_adc
      FROM exact e LEFT JOIN adc5 a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    ),
    r_rr AS (
      SELECT e.query_id,
             CAST(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS DOUBLE) AS recall_rerank
      FROM exact e LEFT JOIN rerank a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    )
    SELECT r_rr.query_id, recall_rerank, recall_adc
    FROM r_rr JOIN r_adc USING (query_id)
    """,
    doc="Recall@5 of the full IVF-PQ pipeline on the planted-cluster "
    "corpus: trained coarse quantizer (nprobe=2), 4x4 first-C product "
    "codebooks, ADC shortlist of 40, exact re-rank to 5 — reported "
    "next to the raw-ADC top-5 recall so the two-phase pattern's "
    "recovery is the measured result: rerank 0.88 mean vs 0.36 for raw "
    "ADC top-5. Crude 4-bitx4 codebooks lose ranking precision, and an "
    "8x-k shortlist plus exact rescoring of ~40 rows/query wins it "
    "back — the knob is shortlist width, not index rebuild. The "
    "whole pipeline — corpus, training, codes, ADC folds, recall — is "
    "bit-reproducible and value-checked in DuckDB.",
    tags=("ann", "recall"),
)
def ann_ivfpq_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.ann import ivf_assign
    from ..operators.knn import knn_join
    from ..operators.pq import ann_ivfpq_adc_topk, pq_codebook_firstc, pq_encode

    tune(spark)
    corpus = _clustered_corpus_df(spark)
    t_df = spark.createDataFrame(
        _cl_trained_centroids(spark, corpus), "centroid_id int, cvec array<double>"
    )
    books = pq_codebook_firstc(corpus, m=_CLPQ_M, k=_CLPQ_K, dim=_CL_DIM)
    codes = pq_encode(corpus, books)
    inverted = ivf_assign(corpus, t_df)
    queries = corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # ONE ADC ranking job: the 20-candidate shortlist keeps its adc_score,
    # so the raw-ADC top-5 is a window over the shortlist, not a second
    # full ADC scan (its top-5 is by construction a prefix of the top-20).
    ranked = ann_ivfpq_adc_topk(
        inverted, codes, t_df, queries, books, k=40, nprobe=2
    ).persist()
    shortlist = ranked.select("query_id", "vec_id")
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("vec_id"))
    adc5 = (
        ranked.withColumn("__rn", F.row_number().over(w_adc))
        .filter(F.col("__rn") <= 5)
        .select("query_id", "vec_id")
    )
    rescored = (
        shortlist.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_sim(F.col("embedding"), F.col("qvec")).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("vec_id"))
    rerank = (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id")
    )
    exact = knn_join(corpus, queries, k=5).select("query_id", "vec_id")
    r_rr = _cl_recall5(exact, rerank, "recall_rerank")
    r_adc = _cl_recall5(exact, adc5, "recall_adc")
    return r_rr.join(r_adc, "query_id")


# --- trained PQ codebooks on the clustered corpus -----------------------------
#
# ann_ivfpq_clustered_recall showed the two-phase rerank recovering what
# crude FIRST-C codebooks lose (ADC 0.36 → rerank 0.88). This query
# closes the other arm of that argument: train the codebooks (per-
# subspace fixed-point Lloyd's, same recipe as the fixture trained-PQ)
# on the SAME corpus and measure raw-ADC recall trained vs first-C,
# head to head, no rerank — the codebook-training payoff in isolation.

_CLPQ_TRAIN_ITERS, _CLPQ_TRAIN_MOD = 2, 4

_CL_TRAINED_CB_CACHE: dict[str, list[list[list[float]]]] = {}


def _cl_trained_codebooks(
    spark: SparkSession, corpus: DataFrame
) -> list[list[list[float]]]:
    from ..operators.pq import pq_codebook_trained

    key = spark.sparkContext.applicationId
    books = _CL_TRAINED_CB_CACHE.get(key)
    if books is None:
        books = pq_codebook_trained(
            corpus,
            m=_CLPQ_M,
            k=_CLPQ_K,
            dim=_CL_DIM,
            iterations=_CLPQ_TRAIN_ITERS,
            scale=_IVF_SCALE,
            sample_mod=_CLPQ_TRAIN_MOD,
        )
        _CL_TRAINED_CB_CACHE[key] = books
    return books


def _cl_trained_cb_sql() -> str:
    """Trained clustered-corpus codebooks: one unrolled fp k-means per
    subspace over the ``vec_id % 4`` sample's slice, unioned into
    ``tcbl(cb_all)`` + encode into ``tenc`` (the trained twin of
    ``_clpq_cb_sql``'s first-C ``clcbl``/``clenc``)."""
    sub = _CLPQ_SUB
    trains = ",\n    ".join(
        _kmeans_fp_sql_g(
            f"cs{s}_",
            f"(SELECT vec_id, list_slice(embedding, {s * sub + 1}, {(s + 1) * sub}) AS embedding "
            f"FROM corpus WHERE vec_id % {_CLPQ_TRAIN_MOD} = 0)",
            _CLPQ_K,
            _CLPQ_TRAIN_ITERS,
            sub,
            _IVF_SCALE,
        )
        for s in range(_CLPQ_M)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT {s} AS s, centroid_id AS code, cvec AS cw FROM cs{s}_cent{_CLPQ_TRAIN_ITERS}"
        for s in range(_CLPQ_M)
    )
    dotc = (
        f"list_dot_product(list_slice(e.embedding::DOUBLE[], s*{sub}+1, (s+1)*{sub}), "
        f"cb_all[CAST(s AS INTEGER)+1][CAST(c AS INTEGER)+1])"
    )
    return f"""{trains},
    tcbu AS (
      {union}
    ),
    tcb2 AS (SELECT s, list(cw ORDER BY code) AS cws FROM tcbu GROUP BY s),
    tcbl AS (SELECT list(cws ORDER BY s) AS cb_all FROM tcb2),
    tenc AS MATERIALIZED (
      SELECT e.vec_id,
        list_transform(range(0, {_CLPQ_M}), s ->
          CAST(list_position(
            list_transform(range(0, {_CLPQ_K}), c -> {dotc}),
            list_max(list_transform(range(0, {_CLPQ_K}), c -> {dotc}))
          ) - 1 AS INTEGER)) AS codes
      FROM corpus e, tcbl
    )"""


def _cl_adc_terms(enc: str) -> str:
    return " + ".join(
        f"list_dot_product(list_slice(p.qvec::DOUBLE[], {s * _CLPQ_SUB + 1}, {(s + 1) * _CLPQ_SUB}), "
        f"cb_all[{s + 1}][{enc}.codes[{s + 1}]+1])"
        for s in range(_CLPQ_M)
    )


def _cl_adc5_sql(tag: str, enc: str, cbl: str) -> str:
    return f"""adc_{tag} AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, {enc}.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY {_cl_adc_terms(enc)} DESC, {enc}.vec_id) AS rn
        FROM {enc} CROSS JOIN q p, {cbl}
      ) WHERE rn <= 5
    )"""


@register(
    "ann_pq_clustered_trained_recall",
    oracle=f"""
    WITH {_CL_CORPUS_SQL},
    {_CL_Q_SQL},
    {_CL_EXACT_SQL},
    {_cl_trained_cb_sql()},
    {_clpq_cb_sql()},
    {_cl_adc5_sql("t", "tenc", "tcbl")},
    {_cl_adc5_sql("f", "clenc", "clcbl")},
    r_t AS (
      SELECT e.query_id,
             CAST(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS DOUBLE) AS recall_trained
      FROM exact e LEFT JOIN adc_t a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    ),
    r_f AS (
      SELECT e.query_id,
             CAST(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS DOUBLE) AS recall_firstc
      FROM exact e LEFT JOIN adc_f a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id
    )
    SELECT r_t.query_id, recall_trained, recall_firstc
    FROM r_t JOIN r_f USING (query_id)
    """,
    doc="Raw-ADC recall@5 on the planted-cluster corpus, TRAINED "
    "per-subspace codebooks vs first-C, head to head with no rerank — "
    "the codebook-training payoff isolated from the shortlist trick. "
    "Measured: trained 0.42 vs first-C 0.36 (best over an m/k/iters "
    "sweep) — a real but bounded lift, because within-cluster variation "
    "here is iid hash noise, which no codebook can rank. That makes "
    "this the honest counterpart to ann_ivfpq_clustered_recall: on "
    "noise-dominated data the rerank lever (0.36 -> 0.88 there) beats "
    "the training lever (0.36 -> 0.42 here), which is exactly the A/B a "
    "production pipeline runs before buying a bigger codebook. All 4 "
    "per-subspace trainings, both encodes, both ADC folds, and the "
    "recall arithmetic are bit-reproduced in DuckDB.",
    tags=("ann", "recall"),
)
def ann_pq_clustered_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import knn_join
    from ..operators.pq import pq_adc_topk, pq_codebook_firstc, pq_encode

    tune(spark)
    corpus = _clustered_corpus_df(spark)
    books_t = _cl_trained_codebooks(spark, corpus)
    books_f = pq_codebook_firstc(corpus, m=_CLPQ_M, k=_CLPQ_K, dim=_CL_DIM)
    queries = corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = knn_join(corpus, queries, k=5).select("query_id", "vec_id")
    ap_t = pq_adc_topk(pq_encode(corpus, books_t), queries, books_t, k=5).select(
        "query_id", "vec_id"
    )
    ap_f = pq_adc_topk(pq_encode(corpus, books_f), queries, books_f, k=5).select(
        "query_id", "vec_id"
    )
    r_t = _cl_recall5(exact, ap_t, "recall_trained")
    r_f = _cl_recall5(exact, ap_f, "recall_firstc")
    return r_t.join(r_f, "query_id")


# === 1M-row IVF-PQ scale demo =================================================
#
# bench_knn_1m proves the exact path's raw throughput; this section is
# the ANN counterpart the round-4 verdict asked for: a 1M-row generated
# corpus served through a PERSISTED IVF index, measurably faster than
# the brute-force scan, with recall pinned in tests. The corpus plants
# 64 clusters (planted structure is what a coarse quantizer exploits;
# on the uniform bench_knn_1m corpus no quantizer beats nprobe/nlists
# recall — brute speed is corpus-agnostic, so the speed comparison
# stays apples-to-apples).
#
# Index build is OFFLINE (first call per store generation): assign every
# vector to its nearest of 64 centroids (computed argmax — the planted
# structure is not assumed) and write parquet PARTITIONED BY
# centroid_id. Serving probes the nprobe nearest lists: partition
# pruning drops 60/64 of the data before the scan, and the exact cosine
# top-k runs over the ~6% that remains — measured recall@10 = 1.0 at
# 4-5x the brute-force throughput (test_ann_bench1m pins both).
#
# Why not PQ-ADC in THIS serving path: within a planted cluster the
# discriminative signal is iid hash noise, which an m=8 codebook cannot
# rank (measured recall@10 ~0.1-0.2 even at a 2000-wide shortlist, both
# plain and residual/IVFADC encoding) — quantized shortlists need
# residual structure that compresses, which synthetic iid noise lacks
# by construction. The ADC/IVFADC machinery is value-checked on the
# fixtures and the 512-vector clustered corpus instead; at 100 TB you
# would A/B the codes-column shortlist against the exact in-list scan
# on real embeddings and keep whichever recall/byte tradeoff wins.

_B1M_N, _B1M_DIM, _B1M_K = 1_000_000, 64, 64
_B1M_NOISE = 0.35
_B1M_NPROBE = 4
_B1M_TOPK = 10
_B1M_VERSION = "v4"  # bump to invalidate the on-disk index (v4: the
# r12 cross-engine prime-field generator replaced xxhash64)


def _b1m_store() -> str:
    return os.path.join(_IVF_STORE, f"bench1m_{_B1M_VERSION}_{_B1M_N}_{_B1M_K}")


def _b1m_centroids(spark: SparkSession) -> list[list[float]]:
    """The 64 planted centroid vectors, computed via ONE 64-row job.
    Salt 54321 = the centroid stream of the shared cross-engine mix
    (``_b1m_vec``), so the IVF oracle can regenerate them in DuckDB."""
    vec = _b1m_vec(_b1m_seed(F.col("id")), 54321, _B1M_DIM)  # 64 rows: no hoist needed
    rows = spark.range(_B1M_K).select(F.col("id"), vec.alias("cvec")).collect()
    rows.sort(key=lambda r: r["id"])
    return [[float(x) for x in r["cvec"]] for r in rows]


def _b1m_cluster(idx):
    """Planted cluster id in [0, 64): scalar stream of the shared mix
    (salt 99991). Spark side; ``_b1m_cluster_sql`` stages the same
    arithmetic in the DuckDB oracle."""
    a = F.pmod(idx * 65537 + F.lit(99991), F.lit(_B1M_MIXP))
    b = F.pmod(a * a + a + F.lit(41), F.lit(_B1M_MIXP))
    c = F.pmod(b * b + F.lit(17), F.lit(_B1M_MIXP))
    return F.pmod(c, F.lit(_B1M_K)).cast("int")


def _b1m_corpus(spark: SparkSession, cents: list[list[float]], n: int) -> DataFrame:
    """``(vec_id, embedding)``: n vectors, 64 planted clusters —
    ``emb(i) = cent[cluster(i)] + 0.35 * noise(i)`` over the
    cross-engine mix streams (noise salt 12345, cluster salt 99991).

    r12: noise generation and the centroid add are the leveled/unrolled
    codegen-able forms (see :func:`_b1m_vectors`); the zip_with lambda
    ``a + 0.35*b`` becomes per-element ``__cent[j] + 0.35D * __v_j`` —
    identical IEEE ops per element, pinned bit-equal by
    ``test_bench1m_clustered_embedding_matches_python_fold``. The
    one-time index build drops from ~4 s to ~1 s of the cold path."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"), _b1m_seed(F.col("id")).alias("__seed")
    )
    noise = _b1m_vectors(base, "__seed", 12345, _B1M_DIM, out="__noise")
    # keep=... carried __noise's element columns away; re-derive from the
    # array: one Project holding the broadcast-size centroid lookup, one
    # assembling the final array.
    with_cent = noise.select(
        "vec_id",
        "__noise",
        F.element_at(
            lit_double_matrix(cents), _b1m_cluster(F.col("vec_id")) + 1
        ).alias("__cent"),
    )
    emb = "array(" + ",".join(
        f"__cent[{j}] + {float(_B1M_NOISE)!r}D * __noise[{j}]"
        for j in range(_B1M_DIM)
    ) + ")"
    return with_cent.selectExpr("vec_id", f"{emb} AS embedding")


def _b1m_build_index(spark: SparkSession, store: str, n: int) -> None:
    """Offline index build: assign (real argmax over the 64 centroids)
    and write partitioned by list id. Atomic publish."""
    import json
    import shutil

    cents = _b1m_centroids(spark)
    corpus = _b1m_corpus(spark, cents, n)
    cent_pairs = list(enumerate(cents))
    pre = corpus.select(
        "vec_id", "embedding", as_double(F.col("embedding")).alias("__vd")
    ).withColumn("__nv", F.sqrt(dot(F.col("__vd"), F.col("__vd"))))
    from ..operators.ann import nearest_centroid_ids

    assigned = pre.select(
        "vec_id",
        "embedding",
        F.element_at(
            nearest_centroid_ids(F.col("__vd"), F.col("__nv"), cent_pairs, nprobe=1), 1
        ).cast("int").alias("centroid_id"),
    )
    tmp = store + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(tmp, "index.parquet")
    )
    # The bench query vector (corpus row 0) rides in the meta so serving
    # never pays a regeneration job — at serving time it stands in for
    # "the user query arrived on the driver".
    qvec = [float(x) for x in corpus.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"cents": cents, "n": n, "qvec": qvec}, fh)
    if os.path.isdir(store):  # lost a publish race — keep the winner
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, store)


def _b1m_serve(spark: SparkSession, store: str, qvec: list[float] | None = None) -> DataFrame:
    """Serving path, ONE Spark job: probe selection is driver-side
    arithmetic over the 64 cached centroids (no job), the scan reads
    only the probed partitions (partition pruning on centroid_id), and
    the exact cosine top-k is a TakeOrdered over the ~6% of rows that
    survive the prune."""
    import json
    import math

    with open(os.path.join(store, "meta.json")) as fh:
        meta = json.load(fh)
    cents = meta["cents"]
    if qvec is None:
        qvec = meta["qvec"]
    qn = math.sqrt(sum(x * x for x in qvec))
    sims = [
        sum(a * b for a, b in zip(qvec, c)) / (qn * math.sqrt(sum(x * x for x in c)))
        for c in cents
    ]
    probes = sorted(range(len(cents)), key=lambda i: (-sims[i], i))[:_B1M_NPROBE]
    idx = spark.read.parquet(os.path.join(store, "index.parquet"))
    # r12: unrolled scoring (guide §4.1) — the query vector's doubles
    # are inlined as literals (repr round-trips every finite double
    # exactly, the lit_doubles contract), the corpus-side dot/norm are
    # the sequential fold unrolled, qn stays the driver-computed
    # scalar. Identical IEEE op order to the previous
    # dot(as_double(e), as_double(qlit)) / (l2_norm(e) * lit(qn)) form;
    # _no_wscg because ~130 fused terms would fall out of JIT.
    from ..functions.vector import _dlit, dot_fold_sql

    _no_wscg(spark)
    qd = [float(x) for x in qvec]
    dot_q = "(0.0D" + "".join(
        f" + (embedding)[{i}] * {_dlit(v)}" for i, v in enumerate(qd)
    ) + ")"
    sim = F.expr(
        f"{dot_q} / (SQRT({dot_fold_sql('embedding', 'embedding', len(qd))})"
        f" * {_dlit(float(qn))})"
    )
    return (
        idx.filter(F.col("centroid_id").isin(probes))
        .select("vec_id", sim.alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(_B1M_TOPK)
    )


@register(
    "bench_knn_1m_ivf",
    oracle=f"""
    WITH cents AS (
      SELECT range AS k, {_b1m_vec_sql('range', 54321)} AS cvec
      FROM range(64)
    ),
    base0 AS (
      SELECT range AS vec_id, (range*65537 + 99991) % {_B1M_MIXP} AS a,
             {_b1m_vec_sql('range', 12345)} AS nvec
      FROM range(1000000)
    ),
    base1 AS (SELECT vec_id, (a*a + a + 41) % {_B1M_MIXP} AS b, nvec FROM base0),
    base AS (SELECT vec_id, ((b*b + 17) % {_B1M_MIXP}) % 64 AS cl, nvec FROM base1),
    corpus AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> cvec[i] + 0.35e0 * nvec[i]) AS embedding
      FROM base JOIN cents ON base.cl = cents.k
    ),
    q AS (SELECT embedding AS qvec FROM corpus WHERE vec_id = 0)
    SELECT corpus.vec_id, {_B1M_COSINE} AS similarity
    FROM corpus, q
    ORDER BY similarity DESC, vec_id ASC
    LIMIT 10
    """,
    # The oracle is the EXACT scan over the regenerated clustered corpus:
    # a hash-green row therefore asserts probed-recall@10 == 1.0 with
    # bitwise-equal similarities — strictly stronger than the pytest
    # recall pin, and only possible since the r12 cross-engine generator.
    doc="Scale demo: top-10 over a 1M x 64 generated clustered corpus "
    "through a persisted IVF index — probe 4 of 64 partition-pruned "
    "lists, exact cosine over the ~6% of rows that survive. First call "
    "per store generation pays the offline build (argmax assignment + "
    "partitioned write, ~90 s); warm serving runs ~0.5 s vs ~1.9 s for "
    "the brute-force scan (bench_knn_1m) on the same hardware, with "
    "recall@10 = 1.0 against the exact scan (both pinned in "
    "test_ann_bench1m). See the section comment for why a PQ-ADC "
    "shortlist is NOT this corpus's serving path.",
    tags=("ann", "bench"),
)
def bench_knn_1m_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    store = _b1m_store()
    if not os.path.isdir(store):
        _b1m_build_index(spark, store, _B1M_N)
    return _b1m_serve(spark, store)


# === embedding-quality probe: kNN label prediction ============================
#
# The embeddings fixture carries a `label` column (10 classes) that the
# catalog's retrieval queries never read — but it is exactly what an
# embedding pipeline's EVAL stage consumes: leave-one-out kNN label
# prediction is the classic non-parametric probe of embedding quality
# (the cheap stand-in for a linear probe). On the near-uniform fixture
# vectors the labels are unlearnable, so measured accuracy hovers at the
# 10-class chance floor (~0.1) — which is itself the correct reading:
# this monitor is what tells you an embedding space carries no label
# signal BEFORE you train on top of it.


@register(
    "eval_knn_label_accuracy",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec, label AS actual
      FROM embeddings WHERE vec_id < 100
    ),
    top5 AS (
      SELECT query_id, actual, label FROM (
        SELECT q.query_id, q.actual, e.label,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('e.embedding', 'q.qvec')} DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, actual, label AS predicted, COUNT(*) AS votes
      FROM top5 GROUP BY query_id, actual, label
    ),
    pred AS (
      SELECT query_id, actual, predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, predicted ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT actual AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
    FROM pred GROUP BY actual
    """,
    doc="Embedding-quality probe: leave-one-out 5-NN majority-vote label "
    "prediction over the embeddings table's 10-class label column, "
    "reported as per-class accuracy — the non-parametric eval an "
    "embedding pipeline gates on before training anything downstream. "
    "Majority ties break to the smallest label, neighbor ties to the "
    "smallest id, so prediction is fully deterministic and the whole "
    "probe (scores, votes, accuracy arithmetic) hash-matches DuckDB. "
    "On these synthetic near-uniform vectors accuracy sits at the "
    "10-class chance floor — the probe correctly reports zero label "
    "signal. Plan: 100 probes broadcast against one corpus scan, "
    "per-query window over scored triples only.",
    tags=("ann", "eval"),
)
def eval_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune(spark)
    # r12 optimization (guide §4.1): the 100-query × full-corpus exact
    # scoring was interpreted HOF cosine (46 s at sf10); unrolled
    # fixed-dim cosine is value-identical (edge rows take the HOF
    # branch per row) and codegen-able. WSCG scope-disabled: ~200
    # fused terms exceed the huge-method JIT limit.
    from ..functions.vector import cosine_sim_sql

    _no_wscg(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("actual"),
    )
    scored = (
        emb.select("vec_id", "embedding", "label")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "actual",
            "vec_id",
            "label",
            F.expr(cosine_sim_sql("embedding", "qvec", _DIM)).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    top5 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("query_id", "actual", F.col("label").alias("predicted")).agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("predicted"))
    pred = votes.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
    return pred.groupBy(F.col("actual").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum((F.col("predicted") == F.col("actual")).cast("long"))
        .cast("bigint")
        .alias("n_correct"),
        (
            F.sum((F.col("predicted") == F.col("actual")).cast("long")).cast("double")
            / F.count("*")
        ).alias("accuracy"),
    )


@register(
    "eval_knn_label_accuracy_clustered",
    oracle=f"""
    WITH {_CL_CORPUS_SQL},
    lab AS (
      SELECT vec_id, embedding,
             {duck_hex13_to_long("md5('cl42|' || CAST(vec_id AS VARCHAR))")} % {_CL_C} AS label
      FROM corpus
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS actual FROM lab),
    top5 AS (
      SELECT query_id, actual, label FROM (
        SELECT q.query_id, q.actual, e.label,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('e.embedding', 'q.qvec')} DESC, e.vec_id) AS rn
        FROM lab e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, actual, label AS predicted, COUNT(*) AS votes
      FROM top5 GROUP BY query_id, actual, label
    ),
    pred AS (
      SELECT query_id, actual, predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, predicted ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT CAST(actual AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
    FROM pred GROUP BY actual
    """,
    doc="The kNN label probe on the PLANTED-CLUSTER corpus (labels = the "
    "8 planted cluster ids): every vector probes leave-one-out against "
    "all 511 others. Paired with eval_knn_label_accuracy this closes "
    "the monitor's own validation loop — chance-floor (~0.1) on the "
    "label-free uniform fixture, near-perfect here where the labels ARE "
    "the geometry — so a mid-range reading on real data is "
    "interpretable as partial label signal, not monitor noise. Same "
    "deterministic vote/tie rules, fully hash-checked.",
    tags=("ann", "eval"),
)
def eval_knn_label_accuracy_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import hex13_to_long

    tune(spark)
    corpus = _clustered_corpus_df(spark)
    lab = corpus.select(
        "vec_id",
        "embedding",
        (
            hex13_to_long(F.md5(F.concat(F.lit("cl42|"), F.col("vec_id").cast("string"))))
            % _CL_C
        ).alias("label"),
    )
    q = lab.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("actual"),
    )
    scored = (
        lab.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "actual",
            "vec_id",
            "label",
            cosine_sim(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    top5 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top5.groupBy("query_id", "actual", F.col("label").alias("predicted")).agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("predicted"))
    pred = votes.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
    return pred.groupBy(F.col("actual").cast("bigint").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum((F.col("predicted") == F.col("actual")).cast("long"))
        .cast("bigint")
        .alias("n_correct"),
        (
            F.sum((F.col("predicted") == F.col("actual")).cast("long")).cast("double")
            / F.count("*")
        ).alias("accuracy"),
    )


# === graph ANN (HNSW-lite, round 7) ==========================================

_GR_M, _GR_BEAM, _GR_HOPS, _GR_K = 6, 8, 3, 5
#: Graph-build cell sizing: the kNN-graph build scores |cell|^2 pairs
#: per cell, so the CELL COUNT must grow with the corpus — a fixed 8
#: cells is corpus^2/8 work (the r9 sf10 sweep caught ann_graph_topk
#: wedged on 5e9 pairs: 8 cells x 25k members). cells = max(8,
#: floor(sqrt(N))) is the standard IVF-flat balance: assignment costs
#: N*k dots and candidate generation N*(N/k), equal at k = sqrt(N) —
#: total O(N^1.5) build instead of O(N^2/8). Identical arithmetic on
#: both engines (the oracle computes it as a scalar subquery; isqrt ==
#: floor(sqrt(double)) exactly at these magnitudes). Cell count now
#: varies with SF (22 at the 500-vector driver fixtures), so results
#: change versus the old fixed-8 build — on BOTH engines at once (hash
#: parity holds; the graph pytest re-pins recall). A 100 TB deployment
#: trains the quantizer and materializes the graph as an index table
#: instead of rebuilding in-query — see the persisted-IVF family for
#: that path.
_GR_CELLS_SQL = "(SELECT GREATEST(8, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings)"


def _graph_index_sql(corpus: str, cent: str, m: int) -> str:
    """CTE block: IVF assignment → per-cell kNN edges (symmetrized) →
    per-cell medoids. Requires ``{corpus}(vec_id, embedding)`` and
    ``{cent}(centroid_id, cvec)`` CTEs/tables in scope."""
    return f"""gassign AS MATERIALIZED (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id) AS rn
        FROM {corpus} e CROSS JOIN {cent} c
      ) WHERE rn = 1
    ),
    getop AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {duck_cosine('b.embedding', 'a.embedding')} DESC, b.vec_id) AS rn
        FROM gassign a JOIN gassign b
          ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
      ) WHERE rn <= {m}
    ),
    gedges AS MATERIALIZED (SELECT src, dst FROM getop UNION SELECT dst, src FROM getop),
    gmedoid AS (
      SELECT centroid_id, vec_id FROM (
        SELECT a.centroid_id, a.vec_id,
               row_number() OVER (PARTITION BY a.centroid_id
                                  ORDER BY {duck_cosine('a.embedding', 'c.cvec')} DESC, a.vec_id) AS rn
        FROM gassign a JOIN {cent} c USING (centroid_id)
      ) WHERE rn = 1
    )"""


def _graph_beam_sql(corpus: str, cent: str, beam: int, hops: int, entries: int = 1) -> str:
    """CTE block: entry points + ``hops`` unrolled expand-score-prune
    rounds (the ``graph_pagerank`` unrolled-iteration pattern). Requires
    ``q(query_id, qvec)`` plus :func:`_graph_index_sql`'s CTEs. Leaves
    ``gv{hops}(query_id, vec_id, similarity)`` = every visited node."""
    parts = [
        f"""gentry AS (
      SELECT DISTINCT p.query_id, m.vec_id FROM (
        SELECT query_id, centroid_id FROM (
          SELECT q.query_id, c.centroid_id,
                 row_number() OVER (PARTITION BY q.query_id
                                    ORDER BY {duck_cosine('q.qvec', 'c.cvec')} DESC, c.centroid_id) AS rn
          FROM q CROSS JOIN {cent} c
        ) WHERE rn <= {entries}
      ) p JOIN gmedoid m USING (centroid_id)
    ),
    gv0 AS (
      SELECT en.query_id, en.vec_id, {duck_cosine('ce.embedding', 'qq.qvec')} AS similarity
      FROM gentry en
      JOIN {corpus} ce ON ce.vec_id = en.vec_id
      JOIN q qq ON qq.query_id = en.query_id
    ),
    gf0 AS (SELECT query_id, vec_id FROM gv0)"""
    ]
    for h in range(1, hops + 1):
        parts.append(
            f"""gn{h} AS (
      SELECT DISTINCT f.query_id, ed.dst AS vec_id
      FROM gf{h - 1} f JOIN gedges ed ON ed.src = f.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM gv{h - 1} v
                        WHERE v.query_id = f.query_id AND v.vec_id = ed.dst)
    ),
    gf{h} AS (
      SELECT query_id, vec_id, similarity FROM (
        SELECT n.query_id, n.vec_id, {duck_cosine('ce.embedding', 'qq.qvec')} AS similarity,
               row_number() OVER (PARTITION BY n.query_id
                                  ORDER BY {duck_cosine('ce.embedding', 'qq.qvec')} DESC, n.vec_id) AS rn
        FROM gn{h} n
        JOIN {corpus} ce ON ce.vec_id = n.vec_id
        JOIN q qq ON qq.query_id = n.query_id
      ) WHERE rn <= {beam}
    ),
    gv{h} AS (
      SELECT query_id, vec_id, similarity FROM gv{h - 1}
      UNION ALL SELECT query_id, vec_id, similarity FROM gf{h}
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "ann_graph_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
                  WHERE vec_id < {_GR_CELLS_SQL}),
    q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id >= 100 AND vec_id < 103),
    {_graph_index_sql('embeddings', 'cent', _GR_M)},
    {_graph_beam_sql('embeddings', 'cent', _GR_BEAM, _GR_HOPS)}
    SELECT query_id, vec_id, similarity FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY similarity DESC, vec_id) AS rn
      FROM gv{_GR_HOPS}
    ) WHERE rn <= {_GR_K}
    """,
    doc="Graph ANN (HNSW-lite, operators/graph_ann.py): cluster-bounded "
    "kNN neighbor graph (per node, 6 nearest same-IVF-cell neighbors, "
    "symmetrized) + deterministic fixed-depth beam search (entry = "
    "medoid of the query's nearest cell; 3 rounds of expand-score-keep-"
    "best-8; exact top-5 over visited). Fixed depth makes HNSW's "
    "adaptive walk deterministic — the oracle unrolls the hops as "
    "SQL, the operator keeps the kilobyte-sized beam state on the "
    "driver with two filtered scans per hop — so the whole search, "
    "graph build included, bit-matches DuckDB. Per-query search cost is "
    "O(hops*beam*M*dim), independent of corpus size; the build is "
    "cell-blocked with an SF-ADAPTIVE cell count (max(8, N div 1024) — "
    "see _GR_CELL_TARGET), never all-pairs and never corpus^2/cells.",
    tags=("ann", "graph"),
)
def ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph_ann import graph_beam_topk, graph_entry_points

    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = max(8, math.isqrt(emb.count()))
    cents = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # r12: dim=_DIM engages the unrolled per-pair dot in the graph build
    # (the |cell|² stage was the whole 257 s sf10 cost — guide §4.1).
    edges, medoids = _graph_index(spark, sf_dir, emb, cents, dim=_DIM)
    entries = graph_entry_points(queries, cents, medoids)
    return graph_beam_topk(
        emb, edges, entries, queries, k=_GR_K, beam=_GR_BEAM, hops=_GR_HOPS
    )


#: Graph index cache, one per (session, fixture): the neighbor graph is
#: INDEX BUILD work (like the persisted IVF inverted lists) — the beam
#: search scans the edge relation in every hop, and without the cache
#: each scan re-runs the cell-pair scoring (measured 31 s -> ~2 s warm
#: at sf0.1, with the earlier declarative beam plan).
_GRAPH_INDEX_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _graph_disk_dir(sf_dir: str) -> str | None:
    """Disk home for this fixture's kNN-graph index under the shared
    index store — same generation scheme as the IVF family (hash of
    fixture identity + build params; meta.json records the source so
    stale generations GC on publish). The graph build is O(N^1.5)
    one-time index work (313 s at sf10) — exactly what a deployment
    materializes once, so sessions after the first read parquet."""
    import hashlib

    try:
        st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        return None
    tag = (
        f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}"
        f"|graph|{_GR_M}|sqrtcells"
    )
    return os.path.join(_IVF_STORE, hashlib.md5(tag.encode()).hexdigest()[:16])


def _graph_index(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame,
    cents: DataFrame,
    dim: int | None = None,
):
    from ..operators.graph_ann import cell_medoids, knn_graph_edges

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _GRAPH_INDEX_CACHE.get(key)
    if cached is None:
        d = _graph_disk_dir(sf_dir)
        epath = os.path.join(d, "graph_edges.parquet") if d else None
        mpath = os.path.join(d, "graph_medoids.parquet") if d else None
        if epath and os.path.exists(epath) and os.path.exists(mpath):
            edges = spark.read.parquet(epath).persist()
            medoids = spark.read.parquet(mpath).persist()
        else:
            edges = knn_graph_edges(corpus, cents, m=_GR_M, dim=dim).persist()
            medoids = cell_medoids(corpus, cents)  # a local relation
            if epath:
                try:
                    etmp, mtmp = (
                        epath + f".tmp{os.getpid()}",
                        mpath + f".tmp{os.getpid()}",
                    )
                    edges.write.mode("overwrite").parquet(etmp)
                    medoids.write.mode("overwrite").parquet(mtmp)
                    os.replace(etmp, epath)
                    os.replace(mtmp, mpath)
                    _publish_meta(d, sf_dir, kind="graph")
                except Exception:  # lost publish race / read-only fs
                    import shutil

                    shutil.rmtree(epath + f".tmp{os.getpid()}", ignore_errors=True)
                    shutil.rmtree(mpath + f".tmp{os.getpid()}", ignore_errors=True)
        edges.count()
        medoids.count()
        cached = (edges, medoids)
        _GRAPH_INDEX_CACHE[key] = cached
    return cached


_GRC_E, _GRC_BEAM, _GRC_HOPS = 2, 16, 4

@register(
    "ann_graph_clustered_recall",
    oracle=f"""
    WITH {_CL_CORPUS_SQL},
    {_kmeans_fp_sql_g("cl", "corpus", _CL_K, _CL_ITERS, _CL_DIM, _IVF_SCALE)},
    cent AS MATERIALIZED (SELECT centroid_id, cvec FROM clcent{_CL_ITERS}),
    {_CL_Q_SQL},
    {_CL_EXACT_SQL},
    {_graph_index_sql('corpus', 'cent', _GR_M)},
    {_graph_beam_sql('corpus', 'cent', _GRC_BEAM, _GRC_HOPS, _GRC_E)},
    approx_g AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY similarity DESC, vec_id) AS rn
        FROM gv{_GRC_HOPS}
      ) WHERE rn <= 5
    ),
    {_cl_ivf_sql("i", "cent", 1)},
    {_cl_recall_sql("g", "recall_graph")},
    {_cl_recall_sql("i", "recall_ivf")}
    SELECT r_g.query_id, recall_graph, recall_ivf
    FROM r_g JOIN r_i USING (query_id)
    """,
    doc="Recall@5 on the PLANTED-CLUSTER corpus: the HNSW-lite beam "
    "search (2 entry medoids, beam 16, 4 hops -> <=66 scored "
    "candidates/query) vs trained-IVF nprobe=1 (scores its whole cell, "
    "~64 mean but up to 162 on the largest), SAME trained quantizer "
    "for both. Measured: graph 0.90 mean vs IVF 0.92 at the matched "
    "budget — on this noise-dominated in-cluster geometry every "
    "sub-scan method converges to budget-limited sampling (the PQ "
    "sections document the same effect), so parity at equal budget is "
    "the honest win; the graph's actual edge is that its cost is "
    "O(hops*beam*M*d) regardless of cell size. Bit-reproduced end to "
    "end; the recall relationship is pinned by tests/test_graph_ann.py.",
    tags=("ann", "recall", "graph"),
)
def ann_graph_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph_ann import graph_beam_topk, graph_entry_points
    from ..operators.knn import knn_join

    tune(spark)
    corpus = _clustered_corpus_df(spark)
    trained = _cl_trained_centroids(spark, corpus)
    t_df = spark.createDataFrame(trained, "centroid_id int, cvec array<double>")
    queries = corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = knn_join(corpus, queries, k=5).select("query_id", "vec_id")
    edges, medoids = _graph_index(spark, "<clustered>", corpus, t_df, dim=_CL_DIM)
    entries = graph_entry_points(queries, t_df, medoids, n_entries=_GRC_E)
    ap_g = graph_beam_topk(
        corpus, edges, entries, queries, k=5, beam=_GRC_BEAM, hops=_GRC_HOPS
    ).select("query_id", "vec_id")
    ap_i = ann_ivf_topk(corpus, t_df, queries, k=5, nprobe=1).select(
        "query_id", "vec_id"
    )
    r_g = _cl_recall5(exact, ap_g, "recall_graph")
    r_i = _cl_recall5(exact, ap_i, "recall_ivf")
    return r_g.join(r_i, "query_id")


# --- Johnson-Lindenstrauss random-projection recall (round-7 tail) -------------

_RP_M = 16


def _rp_sign_matrix(m: int, dim: int) -> list[list[float]]:
    """Deterministic Rademacher (±1) projection matrix from the same
    md5-fold the LSH hyperplanes use (key ``rp|i|j``) — computable
    identically driver-side, in Spark SQL, and in DuckDB."""
    import hashlib

    return [
        [
            1.0
            if (int(hashlib.md5(f"rp|{i}|{j}".encode()).hexdigest()[:13], 16)
                / 2**52 * 2.0 - 1.0) >= 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(m)
    ]


@register(
    "ann_rp_recall",
    oracle=f"""
    WITH rp AS (
      SELECT CAST(t.i AS INTEGER) AS i,
             list_transform(range(0, {_DIM}),
                            j -> CASE WHEN {duck_fold_unit("'rp|' || t.i || '|' || j")} >= 0
                                      THEN 1.0 ELSE -1.0 END) AS pv
      FROM (SELECT unnest(range(0, {_RP_M}))) t(i)
    ),
    red AS (
      SELECT e.vec_id,
             list(list_dot_product(e.embedding::DOUBLE[], rp.pv) ORDER BY rp.i) AS rvec
      FROM embeddings e CROSS JOIN rp GROUP BY e.vec_id
    ),
    qred AS (
      SELECT e.vec_id AS query_id,
             list(list_dot_product(e.embedding::DOUBLE[], rp.pv) ORDER BY rp.i) AS qvec
      FROM embeddings e CROSS JOIN rp WHERE e.vec_id < 10 GROUP BY e.vec_id
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, r.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {duck_cosine('r.rvec', 'q.qvec')} DESC, r.vec_id) AS rn
        FROM red r CROSS JOIN qred q
      ) WHERE rn <= 5
    ),
    {_exact_top5_sql('vec_id < 10')}
    {_RECALL_TAIL_SQL}
    """,
    doc=f"Recall@5 of cosine search in a {_RP_M}-dim Johnson-Lindenstrauss "
    f"random projection of the {_DIM}-dim corpus — the dimensionality-"
    "reduction lever next to PCA (embedding_pca_power, data-dependent "
    "training) and PQ (codebooks): a DATA-INDEPENDENT ±1 Rademacher "
    "matrix (Achlioptas 2003) applied as one map-side matrix-vector "
    "product, no training pass, no shuffle — at 100 TB the projection "
    "streams through the scan and cuts every downstream distance "
    "computation 4x. The matrix derives from the engine's md5-fold "
    "(key rp|i|j), so Spark, the driver, and DuckDB build the SAME "
    "matrix and the recall arithmetic itself is value-checked "
    "cross-engine.",
    tags=("ann",),
)
def ann_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import knn_join

    tune(spark)
    mat = _rp_sign_matrix(_RP_M, _DIM)

    def _reduce(df: DataFrame, vec: str, idc: str, out_vec: str) -> DataFrame:
        return df.select(
            idc,
            F.array(
                *[dot(as_double(F.col(vec)), lit_doubles(row)) for row in mat]
            ).alias(out_vec),
        )

    def approx(emb: DataFrame, queries: DataFrame) -> DataFrame:
        red = _reduce(emb, "embedding", "vec_id", "embedding")
        qred = _reduce(queries, "qvec", "query_id", "qvec")
        return knn_join(red, qred, k=5).select("query_id", "vec_id")

    return _recall_vs_exact(spark, sf_dir, approx)
