"""Similarity search over embedding columns (SURVEY.md §2.1 Q1/Q2 + north
star ANN requirement).

  * one scorer   — ``cosine_col`` is the only cosine expression in the
    engine: JVM built-ins (zip_with/aggregate, folded left-to-right so
    results are bit-identical to the DuckDB oracle) over optional
    precomputed norm columns.  The query reaches it in one of two forms:
    a one-row frame broadcast into a cross join (``topk_cosine``), or
    a literal spliced into the expression (``array_literal``; ``ivf_topk``
    and the RAG search).
  * exact top-k  — ``topk_cosine``: score, then orderBy(desc).limit(k) —
    planner emits TakeOrderedAndProject, never a global sort.
  * LSH top-k    — random-hyperplane signature buckets: candidates share
    the query's bucket, exact scoring only inside the bucket.  The
    hyperplanes are seeded literals so plans are reproducible and
    oracle-checkable.
  * filtered     — Q2 semantics: metadata predicate BEFORE scoring
    (VectorDatabase/VectorDatabase.py:48-54 filterable fields).

At 100 TB the exact path stays shuffle-free until the final top-k merge
(per-partition heaps); the LSH path turns scoring into a bucket-pruned
scan.  MLlib's BucketedRandomProjectionLSH offers the fitted-model variant;
this implementation keeps the plan declarative and engine-owned.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMBED_DIM = 64
N_HYPERPLANES = 8


def hyperplanes(dim: int = EMBED_DIM, n: int = N_HYPERPLANES, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded; round to 6dp so SQL
    literals are exact)."""
    rng = random.Random(seed)
    return [[round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)] for _ in range(n)]


def dot_expr(vec_col: str, other: str) -> str:
    """Left-to-right fold dot product in doubles (bit-reproducible)."""
    return (
        f"aggregate(zip_with({vec_col}, {other}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    )


def norm_expr(vec_col: str) -> str:
    return (
        f"sqrt(aggregate(transform({vec_col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (a, v) -> a + v))"
    )


def cosine_col(a: str, b: str, na: str | None = None, nb: str | None = None) -> Column:
    """The one cosine scorer: a per-pair dot over norm columns ``na`` and
    ``nb`` (SQL expressions; default ``norm_expr(a)``, ``norm_expr(b)``).

    Pass a norm computed once per vector wherever a vector meets many
    others (``norm_expr`` applied before a pairwise join, a query norm
    folded on the one-row side or driver-side): the result is
    bit-identical — the same folds over the same doubles — but
    higher-order functions evaluate interpreted (outside whole-stage
    codegen), so in a pairwise join the fold is the hot loop, and
    prenormed it is one fold per pair instead of three.

    try_divide: an all-zero vector is legal input and has norm 0; ANSI
    mode (Spark 4 default) aborts the JOB on double /0, so zero vectors
    score NULL instead (ordered last by every top-k here — i.e.
    excluded).  Non-zero vectors are bit-identical to the plain division.
    """
    na = norm_expr(a) if na is None else na
    nb = norm_expr(b) if nb is None else nb
    return F.expr(f"try_divide({dot_expr(a, b)}, ({na}) * ({nb}))")


def array_literal(values: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({v} AS DOUBLE)" for v in values) + ")"


def bucket_expr(vec_col: str, planes: list[list[float]]) -> str:
    """Hyperplane-sign bucket id: bit k = (vec . plane_k >= 0)."""
    bits = []
    for k, plane in enumerate(planes):
        d = dot_expr(vec_col, array_literal(plane))
        bits.append(f"(CASE WHEN ({d}) >= 0 THEN 1 ELSE 0 END << {k})")
    return "CAST(" + " + ".join(bits) + " AS INT)"


def topk_cosine(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k against a one-row query DataFrame
    (column ``qvec``).  The query side is broadcast — the big side never
    shuffles; ordering ties broken by id for determinism.  The query norm
    folds once on the 1-row side (bit-identical to folding it per corpus
    row; HOF folds are interpreted, so the constant fold per row was a
    third of the scan cost)."""
    q = query.withColumn("qn", F.expr(norm_expr("qvec")))
    scored = emb.crossJoin(F.broadcast(q)).withColumn(
        "score",
        F.round(cosine_col(vec_col, "qvec", nb="qn"), 6),
    )
    return (
        scored.select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
) -> DataFrame:
    """IVF-style ANN: seeded KMeans over L2-NORMALIZED vectors partitions
    the space into ``nlist`` cells (euclidean on the unit sphere is
    monotone in cosine); the query probes its ``nprobe`` nearest centroids
    and exact cosine scoring touches only those cells.

    Scale shape: cell assignment is a narrow map over the corpus, the
    centroid list is tiny (driver/broadcast), and scoring reads
    ~nprobe/nlist of the rows.  Recall depends on how clustered the
    corpus is — validated on planted clusters in tests/test_ddl_markers.py.
    """
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = f"transform({vec_col}, x -> try_divide(CAST(x AS DOUBLE), {norm_expr(vec_col)}))"
    # Zero-norm vectors are unsearchable under cosine (their unit form is
    # all-NULL, which array_to_vector rejects with a null-assert): exclude
    # them from the index up front instead of aborting the job.
    feats = emb.filter(F.expr(norm_expr(vec_col)) > 0).select(
        id_col, vec_col, array_to_vector(F.expr(unit)).alias("features")
    )
    if emb.filter(F.col(id_col) == query_id).first() is None:
        raise ValueError(f"query {id_col}={query_id} not found in embeddings")

    km = KMeans(k=nlist, seed=42, featuresCol="features", predictionCol="cell").fit(
        feats
    )
    assigned = km.transform(feats)

    q = assigned.filter(F.col(id_col) == query_id).first()
    qv = [float(x) for x in q[vec_col]]
    qn = math.sqrt(sum(x * x for x in qv)) or 1.0
    qu = [x / qn for x in qv]
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())]
    probe_cells = [
        i
        for i, _ in sorted(
            centers, key=lambda c: sum((a - b) ** 2 for a, b in zip(c[1], qu))
        )[:nprobe]
    ]

    qlit = array_literal(qv)
    cand = assigned.filter(
        F.col("cell").isin(probe_cells) & (F.col(id_col) != query_id)
    )
    # query norm folds once driver-side (Python sum() is the same
    # left-to-right double fold as the SQL aggregate — bit-identical, and
    # try_divide keeps the zero-norm -> NULL contract since the unguarded
    # norm is spliced, not the `or 1.0` one used for cell probing)
    qn0 = math.sqrt(sum(x * x for x in qv))
    scored = cand.withColumn(
        "score",
        F.round(cosine_col(vec_col, qlit, nb=f"CAST({qn0!r} AS DOUBLE)"), 6),
    )
    return scored.select(id_col, "cell", "score").orderBy(
        F.desc("score"), F.asc(id_col)
    ).limit(k)
