"""Product quantization (PQ) for inner-product ANN search.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each d-dim vector into ``m`` subvectors, quantize
every subvector against a per-subspace codebook of ``k`` codewords, and
score a query against the CODES via an asymmetric distance computation
(ADC) — one ``m``-entry lookup-table sum per corpus vector instead of a
``d``-term dot product. With m=8, k=16 a 64-dim fp32 vector (256 bytes)
compresses to 8 half-byte codes: a 32-64× scan-byte reduction, which at
100 TB is the difference between an in-memory index and a disk-bound
one.

This implementation quantizes for MAXIMUM INNER PRODUCT (the engine's
similarity is cosine over pre-scaled embeddings): the per-subspace
assignment maximizes ``dot(sub, codeword)`` and ADC sums the per-subspace
dots. Codebooks here are the deterministic "first-C" construction (the
first ``k`` corpus vectors' subvectors, by id — same recipe as
``ann_ivf_firstc_topk``), which keeps every stage — codebook, codes, ADC
scores — bit-reproducible in the DuckDB oracle: every fp64 reduction is
an ORDERED fold (``F.aggregate`` / ``list_sum(list_transform(...))``),
never an unordered SUM. A k-means-trained codebook (the quality upgrade)
drops in by swapping the codebook argument; scoring is unchanged.

Scale posture: encoding is one corpus scan (per-row expressions, no
shuffle); codes are 8 ints/vector, persistable next to the IVF inverted
lists; ADC is a broadcast of (query LUT = m·k fp64) × a map-only pass
over codes + TakeOrderedAndProject. No stage shuffles the corpus.

Reference: the engine's exact scorer is ``functions/vector.py``
(``services/vectorDb.ts:26-52``); PQ trades its exactness for 32× less
I/O, with the exact path kept for re-ranking (``operators/quant.py``
shows the same two-phase pattern at int8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double, dot

__all__ = [
    "pq_codebook_firstc",
    "pq_codebook_trained",
    "pq_encode",
    "pq_adc_topk",
    "adc_score_col",
    "ann_ivfpq_adc_topk",
    "pq_residuals",
    "ann_ivfadc_topk",
    "pq_reconstruct",
    "pq_encode_col",
    "pq_reconstruct_col",
    "pq_encode_unrolled",
]


def pq_codebook_firstc(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic codebooks: ``codebook[s][c]`` = subvector ``s`` of the
    ``c``-th corpus vector by ascending id. Driver-side k·m·(dim/m)
    doubles — the same sanctioned literal boundary as IVF centroids."""
    sub = dim // m
    rows = emb.orderBy(F.asc(id_col)).limit(int(k)).select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[id_col])
    return [
        [[float(x) for x in r[vec_col][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def pq_codebook_trained(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iterations: int = 2,
    scale: int = 1 << 20,
    sample_mod: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """TRAINED codebooks: per subspace, fixed-iteration spherical k-means
    with fixed-point integer mean updates (``kmeans_fit_spherical_fp``) on
    the subvector slices of a deterministic ``id % sample_mod`` sample —
    the same bit-reproducible training recipe as the IVF coarse
    quantizer, so trained-PQ stays value-checkable cross-engine. Training
    is m independent small k-means runs; like all index build it runs
    once offline and the codebook values persist.
    """
    from .kmeans import kmeans_fit_spherical_fp_values

    sub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sliced = emb.select(
            F.col(id_col),
            F.slice(as_double(F.col(vec_col)), s * sub + 1, sub).alias("__sv"),
        )
        cents = kmeans_fit_spherical_fp_values(
            sliced,
            k=k,
            iterations=iterations,
            id_col=id_col,
            vec_col="__sv",
            scale=scale,
            sample_mod=sample_mod,
        )
        books.append([cv for _, cv in sorted(cents)])
    return books


def _codebook_lit(codebook: list[list[list[float]]]) -> Column:
    # one py4j call for the whole m x k x sub constant (see
    # functions.vector.lit_doubles for why per-element F.lit is ~100x
    # costlier at build time; values are bit-identical)
    subs = ",".join(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in cw) + ")" for cw in sub
        )
        + ")"
        for sub in codebook
    )
    return F.expr(f"array({subs})")


def pq_encode(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``codes array<int>[m]``: per subspace, the
    codeword with the LARGEST inner product (ties → lowest code id, via
    array_position-of-max which returns the first occurrence).

    One corpus scan, per-row expressions only — the index-build pass.

    r12 optimization round: delegates to :func:`pq_encode_unrolled`
    (bit-identical codes, pinned) — the HOF form paid ~m·k interpreted
    dot lambdas per row. The HOF Column body survives as
    :func:`pq_encode_col` for expression-level composition and parity
    tests.
    """
    return pq_encode_unrolled(emb, codebook, id_col, vec_col).select(
        F.col(id_col), "codes"
    )


def pq_encode_col(codebook: list[list[list[float]]], vec: Column) -> Column:
    """The codes expression (``array<int>[m]``) for one vector column —
    the per-row body of :func:`pq_encode`, exposed so monitors can fuse
    encode with downstream per-row math in a single projection instead
    of paying a corpus self-join (``pq_reconstruction_error`` at sf10:
    the joined form shuffled two 64-double arrays per vector)."""
    m = len(codebook)
    sub = len(codebook[0][0])
    v = as_double(vec)
    codes = []
    for s in range(m):
        sv = F.slice(v, s * sub + 1, sub)
        from ..functions.vector import lit_double_matrix

        cws = lit_double_matrix(codebook[s])
        dots = F.transform(
            F.sequence(F.lit(0), F.lit(len(codebook[s]) - 1)),
            lambda c: dot(sv, F.element_at(cws, c + 1)),
        )
        # 1-based position of the max → 0-based code; array_position takes
        # the FIRST max, giving the deterministic smallest-code tiebreak
        codes.append((F.array_position(dots, F.array_max(dots)) - 1).cast("int"))
    return F.array(*codes)


def pq_encode_unrolled(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
    out: str = "codes",
) -> DataFrame:
    """:func:`pq_encode` with the per-subspace codeword scoring UNROLLED
    into leveled codegen-able projections (r12 optimization round, guide
    §4.1) — bit-identical codes (pinned by
    ``test_pq_encode_unrolled_matches_operator``).

    The HOF form pays m·k interpreted ``dot`` lambdas per row (m=8,
    k=16, sub=8 → ~1000 interpreted multiply-add evals per vector —
    pq_reconstruction_error's dominant cost at sf10). Here every
    ``dot(sub_s, codeword_c)`` is the unrolled sequential fold
    ``0.0 + CAST(vec[s·sub+j] AS DOUBLE) * cwD + ...`` (same IEEE op
    order as ``zip_with``+``aggregate`` over the sliced cast array),
    one projection level computes the m dot arrays, the next reduces
    each to its argmax code (``array_position`` of ``array_max`` —
    identical first-max tiebreak). Whole-stage codegen is
    scope-disabled here (the ~1000 fused terms exceed the huge-method
    JIT limit; per-operator projections JIT fine) — the next query's
    ``tune()`` resets it, see session.scoped_no_wholestage_codegen.
    """
    from ..session import scoped_no_wholestage_codegen

    scoped_no_wholestage_codegen(emb.sparkSession)
    m = len(codebook)
    sub = len(codebook[0][0])
    keep_l = [id_col, *keep]
    dots_cols = []
    for s, cws in enumerate(codebook):
        terms = []
        for cw in cws:
            t = "0.0D" + "".join(
                f" + CAST(({vec_col})[{s * sub + j}] AS DOUBLE) * {float(x)!r}D"
                for j, x in enumerate(cw)
            )
            terms.append(f"({t})")
        dots_cols.append(f"array({','.join(terms)}) AS __dots_{s}")
    l1 = emb.selectExpr(*keep_l, vec_col, *dots_cols)
    codes = ",".join(
        f"CAST(array_position(__dots_{s}, array_max(__dots_{s})) - 1 AS INT)"
        for s in range(m)
    )
    return l1.selectExpr(*keep_l, vec_col, f"array({codes}) AS {out}")


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """ADC top-k over PQ codes: score = ordered sum over subspaces of
    ``dot(query_sub_s, codebook[s][code_s])``.

    The codebook rides along as a constant-folded literal (m·k·sub
    doubles); queries broadcast; the corpus side touches only ``codes``
    (m ints/vector). The fold over subspaces is ``F.aggregate`` over an
    ordered sequence — bit-identical to the oracle's
    ``list_sum(list_transform(range(m), ...))``.
    """
    score = adc_score_col(codebook, as_double(F.col(query_vec)), F.col("codes"))
    from pyspark.sql import Window

    scored = codes.crossJoin(F.broadcast(queries)).select(
        F.col(query_id), F.col(id_col), score.alias("adc_score")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("adc_score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .drop("rn")
    )


def adc_score_col(
    codebook: list[list[list[float]]], qvec: Column, codes: Column
) -> Column:
    """The ADC score expression: ordered fold over subspaces of
    ``dot(query_sub_s, codebook[s][code_s])``."""
    m = len(codebook)
    sub = len(codebook[0][0])
    cb = _codebook_lit(codebook)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + dot(
            F.slice(qvec, s * sub + 1, sub),
            F.element_at(F.element_at(cb, s + 1), F.element_at(codes, s + 1) + 1),
        ),
    )


def ann_ivfpq_adc_topk(
    inverted: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
    query_id: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """IVF-PQ (the FAISS ``IVFx,PQy`` serving pipeline): probe the
    ``nprobe`` nearest inverted lists, score ONLY those candidates, and
    only against their PQ codes — never the raw vectors.

    At 100 TB this is the compound win: IVF prunes the scan to
    nprobe/nlists of the corpus, PQ shrinks what remains by 32×, and the
    only per-query joins are a broadcast of (query, probed list id) and
    the candidate top-k. The exact re-rank of the shortlist (two-phase,
    as in ``operators/quant.py``) composes on top when recall needs it.
    """
    from .ann import LITERAL_CENTROID_MAX, CentroidLimitError, _collect_centroids, nearest_centroid_ids
    from pyspark.sql import Window

    cents = _collect_centroids(centroids, centroid_id, centroid_vec, LITERAL_CENTROID_MAX)
    if cents is None:
        raise CentroidLimitError("ann_ivfpq_adc_topk", LITERAL_CENTROID_MAX)
    qv = as_double(F.col(query_vec))
    qpre = queries.select(query_id, query_vec, qv.alias("__vd")).withColumn(
        "__nv", F.sqrt(dot(F.col("__vd"), F.col("__vd")))
    )
    probes = qpre.select(
        query_id,
        query_vec,
        F.explode(
            nearest_centroid_ids(F.col("__vd"), F.col("__nv"), cents, nprobe=int(nprobe))
        ).alias(centroid_id),
    )
    cand = inverted.select(id_col, centroid_id).join(codes, id_col)
    scored = cand.join(F.broadcast(probes), centroid_id).select(
        F.col(query_id),
        F.col(id_col),
        adc_score_col(codebook, as_double(F.col(query_vec)), F.col("codes")).alias(
            "adc_score"
        ),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("adc_score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .drop("rn")
    )


def pq_residuals(
    inverted: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
) -> DataFrame:
    """Residual vectors ``v − centroid(v)`` from an inverted table —
    the IVFADC refinement (Jégou et al. §IV): quantizing the residual
    instead of the raw vector concentrates the codebook's resolution on
    the within-cell displacement, where all the remaining information
    lives. Broadcast join on the tiny centroid table + a zip_with — one
    map-only pass.

    Output: ``id_col, centroid_id, res array<double>``.
    """
    return (
        inverted.select(id_col, vec_col, centroid_id)
        .join(F.broadcast(centroids), centroid_id)
        .select(
            F.col(id_col),
            F.col(centroid_id),
            F.zip_with(
                as_double(F.col(vec_col)), F.col(centroid_vec), lambda a, b: a - b
            ).alias("res"),
        )
    )


def ann_ivfadc_topk(
    residual_codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "cvec",
    query_id: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """IVFADC proper: probe ``nprobe`` lists; score a candidate as
    ``dot(q, centroid) + ADC(q, residual codes)`` — exactly
    ``dot(q, centroid + reconstructed_residual)`` by linearity, with the
    centroid term computed ONCE per (query, probed list), not per
    candidate.

    ``residual_codes``: ``(id_col, centroid_id, codes)`` from
    ``pq_encode`` over ``pq_residuals`` (index build, persistable).
    """
    from .ann import LITERAL_CENTROID_MAX, CentroidLimitError, _collect_centroids, nearest_centroid_ids
    from pyspark.sql import Window

    cents = _collect_centroids(centroids, centroid_id, centroid_vec, LITERAL_CENTROID_MAX)
    if cents is None:
        raise CentroidLimitError("ann_ivfadc_topk", LITERAL_CENTROID_MAX)
    ids = [cid for cid, _ in cents]
    if ids != list(range(len(cents))):
        # element_at(cents_lit, centroid_id + 1) below positions by id; a
        # non-contiguous centroid table would dot the WRONG centroid and
        # mis-score silently. Fail loudly instead.
        raise ValueError(
            f"ann_ivfadc_topk requires contiguous 0-based centroid ids, got {ids[:10]}..."
        )
    from ..functions.vector import lit_double_matrix

    cents_lit = lit_double_matrix([cvec for _, cvec in cents])
    qv = as_double(F.col(query_vec))
    qpre = queries.select(query_id, query_vec, qv.alias("__vd")).withColumn(
        "__nv", F.sqrt(dot(F.col("__vd"), F.col("__vd")))
    )
    probes = qpre.select(
        query_id,
        query_vec,
        F.explode(
            nearest_centroid_ids(F.col("__vd"), F.col("__nv"), cents, nprobe=int(nprobe))
        ).alias(centroid_id),
    ).withColumn(
        # per-(query, list) centroid term — the first addend of the fold
        "__qc",
        dot(
            as_double(F.col(query_vec)),
            F.element_at(cents_lit, (F.col(centroid_id) + 1).cast("int")),
        ),
    )
    score = F.col("__qc") + adc_score_col(
        codebook, as_double(F.col(query_vec)), F.col("codes")
    )
    scored = residual_codes.join(F.broadcast(probes), centroid_id).select(
        F.col(query_id), F.col(id_col), score.alias("adc_score")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("adc_score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .drop("rn")
    )


def pq_reconstruct(
    codes: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Decode codes back to the quantized vector (codeword concat) —
    the reconstruction whose error measures codebook quality."""
    return codes.select(
        F.col(id_col), pq_reconstruct_col(codebook, F.col("codes")).alias("recon")
    )


def pq_reconstruct_col(codebook: list[list[list[float]]], codes: Column) -> Column:
    """The reconstructed-vector expression for one codes column — the
    per-row body of :func:`pq_reconstruct` (see :func:`pq_encode_col`
    for why the column form exists)."""
    cb = _codebook_lit(codebook)
    m = len(codebook)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(cb, s + 1), F.element_at(codes, s + 1) + 1
            ),
        )
    )
