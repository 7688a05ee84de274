"""Similarity search over embedding columns (array<float>).

Training-data-pipeline primitive beyond the reference's own surface
(per the build brief): brute-force cosine top-k as the correctness
baseline, and an LSH-bucketed variant as the 100 TB scale path.

All vector math stays JVM-side (`zip_with` + `aggregate` fold in
double precision — whole-stage codegen, no Python in the hot path).
The query side is broadcast; the candidate side streams.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, knn_rank).

    Plan shape: broadcast(queries) x candidates -> codegen'd dot/norm ->
    per-query top-k via window. At 100 TB the broadcast bounds the small
    side and the scan side never shuffles; only the top-k window
    shuffles (k rows per query per partition after partial ranking).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e"),
        _norm(F.col(vec_col)).alias("_en"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", _dot(F.col("_q"), F.col("_e")) / (F.col("_qn") * F.col("_en")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "knn_rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(f"lsh:{seed}")
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def with_lsh_bucket(
    df: DataFrame, dim: int, n_planes: int = 12, seed: int = 42,
    vec_col: str = "embedding", out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane (SimHash for cosine) signature -> integer bucket.

    Deterministic planes (seeded); the signature is a JVM-side fold —
    sign bits of <v, plane_j> packed into a long. Vectors in the same
    bucket are near in angle with high probability.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(p) for p in plane])
        d = _dot(F.col(vec_col), arr)
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return df.withColumn(out_col, bucket)


def _centroids(dim: int, n_cells: int, seed: int) -> list[list[float]]:
    rng = random.Random(f"ivf:{seed}")
    cs = []
    for _ in range(n_cells):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cs.append([x / n for x in v])
    return cs


def _cell_sims(vec_col, centroids) -> list:
    return [
        F.struct(
            _dot(vec_col, F.array(*[F.lit(p) for p in c])).alias("s"),
            F.lit(i).alias("i"),
        )
        for i, c in enumerate(centroids)
    ]


def with_ivf_cell(df: DataFrame, dim: int, n_cells: int = 16, seed: int = 42,
                  vec_col: str = "embedding", out_col: str = "ivf_cell") -> DataFrame:
    """IVF coarse quantizer with deterministic seeded centroids: cell =
    argmax cosine(centroid, v) — JVM-side (array_max over (sim, idx)
    structs picks the lexicographically largest, i.e. highest sim)."""
    best = F.array_max(F.array(*_cell_sims(F.col(vec_col), _centroids(dim, n_cells, seed))))
    return df.withColumn(out_col, best["i"])


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: candidates are bucketed once by
    nearest centroid; each query probes its nprobe nearest cells and
    reranks exactly within them. Join volume ~ nprobe/n_cells of the
    cross join — the classic recall/compute dial (nprobe=n_cells is
    exact). At scale the candidate side can be written bucketed by
    ivf_cell so probes prune at the scan."""
    centroids = _centroids(dim, n_cells, seed)
    cb = with_ivf_cell(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")),
        dim, n_cells, seed, "_e", "ivf_cell",
    )
    sims_sorted = F.reverse(F.array_sort(F.array(*_cell_sims(F.col("_q"), centroids))))
    probe_cells = F.transform(F.slice(sims_sorted, 1, nprobe), lambda s: s["i"])
    qb = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q"))
        .withColumn("ivf_cell", F.explode(probe_cells))
    )
    pairs = (
        cb.join(F.broadcast(qb), "ivf_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_sim",
            _dot(F.col("_q"), F.col("_e")) / (_norm(F.col("_q")) * _norm(F.col("_e"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "knn_rank")
    )


def lsh_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket-equi-join instead of a cross join.

    The cross join's |Q| x |C| pair count drops to pairs sharing a
    bucket (~|Q| x |C| / 2^n_planes) — this is the plan that survives a
    1000x candidate scale-up. Recall is tunable via n_planes (fewer
    planes = bigger buckets = higher recall, more compute).
    """
    qb = with_lsh_bucket(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_q")),
        dim, n_planes, seed, "_q",
    )
    cb = with_lsh_bucket(
        candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")),
        dim, n_planes, seed, "_e",
    )
    pairs = (
        cb.join(F.broadcast(qb), "lsh_bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_sim",
            _dot(F.col("_q"), F.col("_e")) / (_norm(F.col("_q")) * _norm(F.col("_e"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "knn_rank")
    )
