"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: native F.zip_with/F.aggregate dot products —
  JVM-side, no UDF; exact baseline;
- multi-table random-hyperplane LSH (ANN + embedding near-dup): L tables of
  p planes each; a vector lands in one bucket per table (2^p buckets/table),
  candidates are pairs sharing any table's bucket, exact cosine runs within
  buckets only. Recall grows with L (union of tables), precision/cost with p.

100-TB scaling: bucket count per table is 2^p — p scales with log2(N) (e.g.
p=30 -> ~10^9 buckets for 10^10 vectors, expected bucket size ~10), so the
per-bucket self-join stays bounded; `bucket_cap` hard-bounds pathological
buckets (rank by xxhash64 -> deterministic). The planes ride to executors as
literal columns (a few KB per table) — no join, no broadcast table. This
replaces the round-1 single-table fixed-2^n_planes design whose intra-bucket
join was quadratic at scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

# Default per-(table,bucket) row cap — ON by default so the safe-at-scale
# behavior is not opt-in (a mega-bucket of N co-hashed vectors otherwise
# turns the per-bucket self-join quadratic in N). Generous enough that a
# healthy bucket distribution (p ~ log2(N) planes -> expected size ~10)
# never touches it; pass bucket_cap=None to explicitly disable.
DEFAULT_BUCKET_CAP = 1000


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k neighbors per query (cross join + window). Baseline —
    quadratic; use ann_cosine_topk at scale."""
    e = embeddings.select(F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec"))
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec"))
    scored = q.crossJoin(e).select(
        "q_id", "nn_id", F.round(cosine_col(F.col("q_vec"), F.col("nn_vec")), 4).alias("cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= k)


def hyperplanes(dim: int, n_planes: int, n_tables: int = 1, seed: int = 42) -> np.ndarray:
    """(n_tables, n_planes, dim) seeded gaussian planes — also consumed by
    the DuckDB oracle builder as full-precision literals."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucket_col(vec_col, table_planes: np.ndarray):
    """Sign-pattern bucket id for one table's planes (first plane = MSB)."""
    from nutch_spark.functions.litfast import lit_double_array

    bucket = F.lit(0)
    for p in table_planes:
        bit = F.when(
            _dot(vec_col, lit_double_array(p)) >= 0, F.lit(1)
        ).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket


def _bucketed(df: DataFrame, id_name: str, vec_name: str, planes: np.ndarray,
              bucket_cap: int | None = None) -> DataFrame:
    """Explode each vector to (tbl, bucket) rows — one per table. The explode
    is narrow (no shuffle); the only exchange is the downstream bucket join."""
    out = df.select(
        id_name, vec_name,
        F.posexplode(
            F.array(*[_bucket_col(F.col(vec_name), planes[t]) for t in range(len(planes))])
        ).alias("tbl", "bucket"),
    )
    if bucket_cap is not None:
        w = Window.partitionBy("tbl", "bucket").orderBy(F.xxhash64(id_name))
        out = (
            out.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= bucket_cap).drop("_r")
        )
    return out


def ann_cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    n_planes: int = 8, n_tables: int = 1, dim: int = 64, seed: int = 42,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP, exclude_self: bool = False,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Multi-table LSH ANN: exact cosine only within buckets the query
    shares with data vectors (union over tables). `dim` is declared by the
    caller — no driver-side .first() probe in the library path."""
    planes = hyperplanes(dim, n_planes, n_tables, seed)
    e = _bucketed(
        embeddings.select(F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")),
        "nn_id", "nn_vec", planes, bucket_cap,
    )
    q = _bucketed(
        queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")),
        "q_id", "q_vec", planes,
    )
    pairs = q.join(e, ["tbl", "bucket"])
    if exclude_self:
        pairs = pairs.filter(F.col("nn_id") != F.col("q_id"))
    pairs = pairs.dropDuplicates(["q_id", "nn_id"])  # union over tables
    scored = pairs.select(
        "q_id", "nn_id",
        F.round(cosine_col(F.col("q_vec"), F.col("nn_vec")), 4).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= k)


def ivf_centroid_vectors(
    embeddings: DataFrame, n_centroids: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> np.ndarray:
    """IVF coarse quantizer: (n_centroids, dim) float64 centroid matrix.

    Initial centroids are a DETERMINISTIC uniform sample — the n_centroids
    vectors with the smallest md5(CAST(id AS STRING)) (tie-break id), a rule
    the DuckDB oracle can evaluate identically. kmeans_iters > 0 refines
    them with Lloyd passes (assignment via the same literal-centroid argmax
    the query path uses; new means via posexplode + per-dimension avg — two
    bounded shuffles per pass, rows = N x dim, the standard distributed
    k-means shape; at 100-TB scale run it on a sampled slice).

    The collect here is model state (n_centroids x dim floats), not data —
    the same driver-side role as `hyperplanes`.
    """
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    picked = (
        embeddings.select(F.col(vec_col).alias("v"), h.alias("_h"),
                          F.col(id_col).alias("_id"))
        .orderBy("_h", "_id")
        .limit(n_centroids)
        .collect()
    )
    cents = np.array([r.v for r in picked], dtype=np.float64)
    for _ in range(kmeans_iters):
        assigned = embeddings.select(
            F.col(vec_col).alias("v"),
            ivf_assign_col(F.col(vec_col), cents, n_probe=1)[0].alias("list_id"),
        )
        dims = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"))
            .collect()
        )
        nxt = cents.copy()  # empty lists keep their previous centroid
        for r in dims:
            nxt[r.list_id] = [x.m for x in r.ms]
        cents = nxt
    return cents


def ivf_assign_col(vec_col, centroids: np.ndarray, n_probe: int) -> "F.Column":
    """array<int> of the n_probe nearest centroid list-ids (cosine argmax,
    ties to the smaller list id). Centroids ride as literals like the LSH
    planes — the assignment is a narrow projection, NO join and NO shuffle.
    For very large n_centroids switch to a broadcast-join variant; at the
    IVF sweet spot (n_centroids ~ sqrt(N), probed lists ~ n_probe/n_centroids
    of the data) literals stay small."""
    from nutch_spark.functions.litfast import lit_double_array

    # ONE array<array<double>> literal + ONE transform lambda (evaluated per
    # centroid at runtime, identical arithmetic to an unrolled per-centroid
    # cosine chain) — the unrolled form cost O(n_centroids) py4j calls and an
    # O(n_centroids * dim) expression tree (PLANS.md §6.15)
    cents = F.array(*[lit_double_array(c) for c in centroids])
    # field names deliberately avoid the callers' select aliases: a lambda
    # struct field named like a sibling select alias trips Spark's
    # lateral-column-alias resolution (INTERNAL_ERROR: resolved plan should
    # not contain any LateralColumnAliasReference)
    scored = F.transform(
        cents,
        lambda c, i: F.struct(
            (-cosine_col(vec_col, c)).alias("_ivf_negcos"),
            i.cast("int").alias("_ivf_lid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, n_probe), lambda s: s["_ivf_lid"]
    )


def ivf_cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    n_centroids: int = 16, n_probe: int = 2, kmeans_iters: int = 0,
    exclude_self: bool = False,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-flat ANN: data vectors live in the inverted list of their nearest
    centroid; each query probes its n_probe nearest lists and runs exact
    cosine there only. The second scale path next to the LSH tables
    (ann_cosine_topk): IVF trades the quantizer pass for candidate sets
    that track the data distribution instead of random cuts. The only
    exchange is the list-id equi-join — bucket-join-only, like LSH."""
    cents = ivf_centroid_vectors(embeddings, n_centroids, id_col, vec_col,
                                 kmeans_iters)
    # two-step selects: referencing the pre-alias column name in the same
    # select list as its alias, with the lambda-HOF assign column, trips
    # Spark's lateral-column-alias rewrite (INTERNAL_ERROR:
    # LateralColumnAliasReference in resolved plan)
    e = embeddings.select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    ).select(
        "nn_id", "nn_vec",
        ivf_assign_col(F.col("nn_vec"), cents, n_probe=1)[0].alias("list_id"),
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")
    ).select(
        "q_id", "q_vec",
        F.explode(
            ivf_assign_col(F.col("q_vec"), cents, n_probe)
        ).alias("list_id"),
    )
    pairs = q.join(e, "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("nn_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id", "nn_id",
        F.round(cosine_col(F.col("q_vec"), F.col("nn_vec")), 4).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(F.col("rk") <= k)


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.95,
    n_planes: int = 8, n_tables: int = 1, dim: int = 64, seed: int = 42,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table bucketed self-join."""
    planes = hyperplanes(dim, n_planes, n_tables, seed)
    e = _bucketed(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        "id", "vec", planes, bucket_cap,
    )
    l, r = e.alias("l"), e.alias("r")
    pairs = (
        l.join(r, (F.col("l.tbl") == F.col("r.tbl"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("a"), F.col("l.vec").alias("va"),
                F.col("r.id").alias("b"), F.col("r.vec").alias("vb"))
        .dropDuplicates(["a", "b"])
    )
    return pairs.select(
        "a", "b",
        F.round(cosine_col(F.col("va"), F.col("vb")), 4).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
