"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one broadcast of the query set,
`F.zip_with`-based dot product evaluated JVM-side. Scale paths: random
hyperplane LSH bucketing (query only probes its bucket) and an IVF coarse
quantizer (query probes its nearest centroid cells) — candidate reductions
that survive a 100× corpus. All three share one scoring + top-k tail.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pentaho_kettle_spark.functions import bind_once
from pentaho_kettle_spark.plans.spread import spread_for_compute


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _py_norm(v: list[float]) -> float:
    """Driver-side twin of norm_expr over a DOUBLE-literal array (the
    `_lit_vec` form): Catalyst folds `acc + v*v` left-to-right in doubles
    and sqrt is IEEE correctly rounded on both sides, so this is
    bit-identical to evaluating norm_expr(_lit_vec(v)) per row — computed
    once instead of once per corpus row."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def vector_dim(df: DataFrame, vec_col: str) -> int:
    """Length of the first non-NULL vector in `df` — a one-row driver sniff.
    0 when there is none (an empty or all-NULL corpus): nothing can score a
    real cosine then, and the plan still builds with its normal columns."""
    row = df.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    return 0 if row is None else row[0]


def _cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    key: tuple | None = None,
) -> DataFrame:
    """Exact cosine of every candidate (query, corpus row) pair, then the k
    best per query (ties to the lower id). `key = (name, corpus_fn,
    query_fn)` restricts candidates to an equi-join on `name`, computed by
    the two functions from each side's vector; `None` scores every pair.

    Norms are precomputed once per side BELOW the join (the projections
    can't collapse across it), so each scored pair pays one dot product
    instead of dot + two re-derived norms — same doubles, same ops,
    bit-identical cosines. The top-k is one row_number window per query
    (no global sort)."""
    cb = spread_for_compute(corpus, id_col)
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        norm_expr(F.col(vec_col)).alias("_qn"),
    )
    if key is not None:
        name, corpus_fn, query_fn = key
        cb = cb.withColumn(name, corpus_fn(F.col(vec_col)))
        qb = qb.withColumn(name, query_fn(F.col("_qv")))
    cb = cb.withColumn("_vn", norm_expr(F.col(vec_col)))
    qb = F.broadcast(qb)
    pairs = cb.crossJoin(qb) if key is None else cb.join(qb, on=key[0])
    scored = pairs.select(
        F.col(query_id_col),
        F.col(id_col),
        (dot_expr(F.col(vec_col), F.col("_qv")) / (F.col("_vn") * F.col("_qn"))).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set against
    the corpus and score every pair JVM-side."""
    return _cosine_topk(corpus, queries, k, vec_col, id_col, query_id_col)


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def hyperplane_bucket(vec: Column, dim: int, n_planes: int = 12, seed: int = 42) -> Column:
    """Sign pattern of `n_planes` fixed random hyperplanes → integer bucket.
    Plane coefficients are literals baked into the plan — no closure capture,
    no broadcast variable, identical on every executor."""
    planes = _planes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        s = F.when(dot_expr(vec, arr) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + s
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane signs,
    equi-join on bucket (hash join — no cross product), exact cosine within
    candidates. Recall rises with fewer planes / multiprobe; this is the IVF
    analog where the 'inverted list' is the LSH bucket."""
    if dim is None:
        dim = vector_dim(corpus, vec_col)

    def bucket(v):
        return hyperplane_bucket(v, dim, n_planes)

    return _cosine_topk(
        corpus, queries, k, vec_col, id_col, query_id_col, key=("_bkt", bucket, bucket)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest CENTROID
    cell, probe each query's `n_probe` nearest cells, score exactly inside
    the probed cells. The coarse quantizer is the classic FAISS IVF shape;
    candidate cost is |corpus|·n_probe/n_cells per query instead of
    |corpus|.

    Scale design: the centroid list is SMALL (n_cells vectors) and compiles
    into the plan as literals — assignment is a pure projection (no join,
    no shuffle beyond the final per-query top-k window), and the
    cell-equi-join is a broadcast hash join on the tiny probed query set.

    `centroids=None` picks the `n_cells` lowest-id corpus vectors — a
    deterministic one-round k-means|| init that the DuckDB oracle twin
    reproduces exactly (functions/oracle_sqlgen.ivf_ann_sql). Production
    refines with Lloyd iterations (KMeans on a sample) and passes the
    result in; only centroid QUALITY (recall) changes, never the plan.
    """
    if centroids is None:
        rows = (
            corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
        )
        centroids = [list(map(float, r[1])) for r in rows]

    def _lit_vec(v):
        return F.array(*[F.lit(float(x)) for x in v])

    # centroid norms as plan literals (bit-identical to norm_expr over the
    # double-literal arrays — see _py_norm), and the row's own norm bound
    # ONCE as a lambda variable instead of re-derived per centroid: the
    # assignment drops from n_cells×(dot+2 norms) to n_cells dots + 1 norm
    cnorms = [_py_norm(c) for c in centroids]

    def _cell_expr(vec: Column) -> Column:
        # argmax cosine over centroid literals; ties break to the LOWEST
        # cell index (array_max on struct(cos, -idx) → max cos, then max -idx)
        def _inner(nv):
            entries = [
                F.struct(
                    (dot_expr(vec, _lit_vec(c)) / (nv * F.lit(cn))).alias("c"),
                    F.lit(-i).alias("ni"),
                )
                for i, (c, cn) in enumerate(zip(centroids, cnorms))
            ]
            return -F.array_max(F.array(*entries))["ni"]

        return bind_once(norm_expr(vec), _inner)

    def _probe_expr(vec: Column) -> Column:
        # the n_probe nearest cells, one row each: sort struct(-cos, idx) ascending
        def _inner(nv):
            entries = [
                F.struct(
                    (-(dot_expr(vec, _lit_vec(c)) / (nv * F.lit(cn)))).alias("nc"),
                    F.lit(i).alias("i"),
                )
                for i, (c, cn) in enumerate(zip(centroids, cnorms))
            ]
            ordered = F.sort_array(F.array(*entries))
            return F.transform(F.slice(ordered, 1, n_probe), lambda s: s["i"])

        return F.explode(bind_once(norm_expr(vec), _inner))

    return _cosine_topk(
        corpus, queries, k, vec_col, id_col, query_id_col, key=("_cell", _cell_expr, _probe_expr)
    )
