"""Similarity search over the embeddings table.

- brute-force cosine top-k (the exactness baseline): broadcast the tiny
  query set against all vectors, rank with a deterministic total order;
- LSH-bucketed ANN (the scale path): random-hyperplane signatures built
  from seeded md5-derived pseudo-random planes; candidates share a
  bucket, ranked within bucket. At 100 TB the bucket join replaces the
  full cross product; the bucketing is a plain groupBy/join on a hashed
  key so it scales like any hash shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import load_tables

TOP_K = 5
N_QUERIES = 5
LSH_PLANES = 6  # 2^6 = 64 buckets

_DOT = "aggregate(zip_with(qe, ne, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0 AS double), (acc, v) -> acc + v)"
_NQ = "sqrt(aggregate(qe, cast(0 AS double), (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"
_NN = "sqrt(aggregate(ne, cast(0 AS double), (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"


def _ann_topk_bruteforce_plan(spark, sf_dir):
    """Exact top-k cosine neighbors for the first N_QUERIES vectors."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    scored = (
        F.broadcast(q)
        .crossJoin(n)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(F.expr(f"({_DOT}) / (({_NQ}) * ({_NN}))"), 3))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


ORACLE_ANN_BRUTE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
n AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(
           list_sum(list_transform(list_zip(qe, ne), z -> z[1]::DOUBLE * z[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(ne, x -> x::DOUBLE * x::DOUBLE)))),
         3) AS cos
  FROM q CROSS JOIN n WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, rank, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
"""


def _plane_signs(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component weights:
    sign_i = +1 if bit0 of md5(f"{plane}:{i}")'s first hex byte is set,
    else -1. Computed ONCE at plan-build time with hashlib (identical
    to what Spark's md5()/DuckDB's md5() of the same string yields) and
    inlined as literals — evaluating md5 per row per element inside the
    lambda made a 64-plane bucketing ~50x slower than the arithmetic."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[:2], 16) % 2 == 1 else -1.0
        for i in range(dim)
    ]


def _plane_expr(dim: int, plane: int) -> str:
    """Projection of the ``embedding`` column on seeded plane
    ``plane``, as a Spark SQL expression over literal sign weights."""
    signs = ", ".join(f"{s:.1f}" for s in _plane_signs(dim, plane))
    return (
        f"aggregate(zip_with(embedding, array({signs}),"
        " (x, s) -> cast(x AS double) * s),"
        " cast(0 AS double), (acc, v) -> acc + v)"
    )


def lsh_bucket_col(dim: int = 64):
    """The LSH_PLANES-bit random-hyperplane bucket id as a Column over
    an ``embedding`` column (bit p set iff projection on plane p > 0)."""
    bucket = None
    for p in range(LSH_PLANES):
        bit = F.when(F.expr(_plane_expr(dim, p)) > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucketing: each vector's bucket id is the
    sign pattern of LSH_PLANES seeded hyperplane projections. Returns
    bucket occupancy (the candidate-generation structure); ann_topk_lsh
    runs the full query path over these buckets."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("bucket", lsh_bucket_col())
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


def _duck_plane(plane: int, dim: int = 64) -> str:
    """Same projection in DuckDB SQL, from the same inlined literals
    (hashlib md5 == Spark md5 == DuckDB md5 of the same string, so the
    sign vectors are identical by construction)."""
    signs = ", ".join(f"{s:.1f}" for s in _plane_signs(dim, plane))
    return (
        f"list_sum(list_transform(list_zip(embedding, [{signs}]),"
        " z -> z[1]::DOUBLE * z[2]))"
    )


_DUCK_BUCKET = (
    "("
    + " + ".join(
        f"(CASE WHEN ({_duck_plane(p)}) > 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(LSH_PLANES)
    )
    + ")::BIGINT"
)

ORACLE_ANN_LSH = (
    "SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id FROM "
    f"(SELECT vec_id, {_DUCK_BUCKET} AS bucket FROM embeddings) GROUP BY bucket"
)


# Banded random-hyperplane LSH: B bands of R planes; two vectors are
# candidates iff they share ANY band bucket. For a pair at angle theta
# (p = 1 - theta/pi per plane), candidate recall = 1 - (1 - p^R)^B and
# the random-pair candidate rate is ~ 1 - (1 - 2^-R)^B, so R sets
# selectivity and B buys recall back. Two geometries are in use:
# - ANN top-k (this module): B=8, R=2 — generous buckets; the synthetic
#   embeddings are near-isotropic (true top-k neighbors sit at cos
#   0.35-0.48, where p^R decays brutally in R), so recall is bought
#   with coarse bands and measured by ann_recall (1.0 at these
#   settings). A single AND-of-6-planes bucket recalls only ~4%.
# - near-dup (ops.dedup): B=8, R=8 — 256 buckets/band, ~3% random
#   candidate rate, recall >= 0.93 at cos 0.9 (a real near-dup bar).
ANN_BANDS_B = 8
ANN_BAND_ROWS = 2
ANN_BAND_PLANE_BASE = 100  # seed namespace disjoint from ann planes 0..5
EMB_DIM = 64


def banded_buckets(
    emb,
    n_bands: int = ANN_BANDS_B,
    n_rows: int = ANN_BAND_ROWS,
    plane_base: int = ANN_BAND_PLANE_BASE,
    dim: int = EMB_DIM,
):
    """(vec_id, band, bucket) via ONE Arrow-batched numpy pass: the
    embedding block matrix-multiplies against all n_bands*n_rows sign
    vectors at once and the sign bits pack into per-band bucket ids.

    ~10x faster than the interpreted higher-order-function expressions
    (8M boxed lambda evaluations for 2k rows x 64 planes). Bucket ids
    depend only on projection SIGNS; numpy's summation order can differ
    from the sequential fold in the last ulp, which could flip a sign
    only for |projection| ~ 1e-15 — impossible-in-practice for
    continuous embeddings, and tests/test_ann_quality.py asserts
    bucket-for-bucket equality against the expression form (the
    per-plane aggregate() fold) on the driver tables (the same guard
    protects the DuckDB oracle parity)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    signs = np.array(
        [
            _plane_signs(dim, plane_base + band * n_rows + r)
            for band in range(n_bands)
            for r in range(n_rows)
        ],
        dtype=np.float64,
    ).T  # (dim, n_bands*n_rows)
    weights = np.array([1 << r for r in range(n_rows)], dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(embs: pd.Series) -> pd.Series:
        m = np.array(embs.tolist(), dtype=np.float64)
        bits = (m @ signs) > 0  # (rows, n_bands*n_rows)
        packed = (
            bits.reshape(len(m), n_bands, n_rows) * weights
        ).sum(axis=2)
        return pd.Series(list(packed))

    # The UDF IS deterministic; the flag only gates the optimizer.
    # Without it, InferFiltersFromGenerate adds `size(bks)>0 AND
    # isnotnull(bks)` below the posexplode and ExtractPythonUDFs then
    # evaluates the matmul UDF TWICE per scan (once for the inferred
    # filter, once for the projection) — observed as 8 ArrowEvalPython
    # stages in embedding_cosine_pairs' plan before this flag.
    _buckets = _buckets.asNondeterministic()

    return emb.select("vec_id", _buckets("embedding").alias("bks")).select(
        "vec_id", F.posexplode("bks").alias("band", "bucket")
    )


def duck_band_bucket(band: int, n_rows: int, plane_base: int) -> str:
    """The band-`band` bucket id in DuckDB SQL (same md5 planes)."""
    return (
        "("
        + " + ".join(
            f"(CASE WHEN ({_duck_plane(plane_base + band * n_rows + r)}) > 0"
            f" THEN {2 ** r} ELSE 0 END)"
            for r in range(n_rows)
        )
        + ")::BIGINT"
    )


def duck_banded_buckets(
    n_bands: int = ANN_BANDS_B,
    n_rows: int = ANN_BAND_ROWS,
    plane_base: int = ANN_BAND_PLANE_BASE,
    source: str = "embeddings",
) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {band} AS band,"
        f" {duck_band_bucket(band, n_rows, plane_base)} AS bucket FROM {source}"
        for band in range(n_bands)
    )


DUCK_BANDED_BUCKETS = duck_banded_buckets()


def _ann_topk_lsh_plan(spark, sf_dir):
    """ANN query path over banded LSH: each query ranks only vectors
    sharing at least one of its band buckets (candidates-only — the
    100-TB shape: hash-partitioned joins on the bucket key replace the
    cross product; the query-side bands are tiny and broadcast). May
    return fewer than TOP_K rows for an isolated query; recall vs brute
    force is measured by ann_recall."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    bb = banded_buckets(emb)
    cand = (
        F.broadcast(
            bb.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed(
                "vec_id", "query_id"
            )
        )
        .join(bb.withColumnRenamed("vec_id", "neighbor_id"), ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    n = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .withColumn("cos", F.round(F.expr(f"({_DOT}) / (({_NQ}) * ({_NN}))"), 3))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


ORACLE_ANN_LSH_TOPK = f"""
WITH bb AS ({DUCK_BANDED_BUCKETS}),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
   AND a.vec_id != b.vec_id
  WHERE a.vec_id < {N_QUERIES}
),
scored AS (
  SELECT query_id, neighbor_id,
         round(
           list_sum(list_transform(list_zip(q.embedding, n.embedding), z -> z[1]::DOUBLE * z[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE)))),
         3) AS cos
  FROM cand
  JOIN embeddings q ON q.vec_id = query_id
  JOIN embeddings n ON n.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, rank, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
"""


IVF_CENTROIDS = 8  # deterministic "training": first K vectors are centroids
IVF_NPROBE = 2


def _cos_expr(a: str, b: str) -> str:
    """Fold-order-pinned cosine over two array columns — THE canonical
    spelling every module's bit-exactness claim rests on (captions,
    hybrid, dedup import it rather than re-spelling the lambda)."""
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0 AS double), (acc, v) -> acc + v)"
    na = f"sqrt(aggregate({a}, cast(0 AS double), (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"
    nb = f"sqrt(aggregate({b}, cast(0 AS double), (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"
    return f"({dot}) / (({na}) * ({nb}))"


def seq_cosine_udf():
    """Arrow-batched cosine with EXACTLY ``_cos_expr``'s arithmetic
    (r6, guide §4.2): ``np.cumsum`` is an elementwise sequential
    accumulation, so its last prefix sum is bit-identical to the
    interpreted ``aggregate()`` left fold — the float32 -> float64
    casts, the (na * nb) product and the final division are replicated
    operation-for-operation. The boxed per-element lambda evaluation
    (3 folds x dim per PAIR on the verify paths) was the dominant cost
    of every cosine consumer; this kernel does the same math at numpy
    speed. tests/test_ann_quality.py pins bitwise parity against the
    expression form on the driver tables."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        dots = np.cumsum(ma * mb, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(ma * ma, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(mb * mb, axis=1)[:, -1])
        return pd.Series(dots / (na * nb))

    # asNondeterministic stops the optimizer cloning the kernel below a
    # pushed filter (guide §4.4: a filter on a UDF-derived column
    # otherwise evaluates the UDF twice per row — observed as a third
    # ArrowEvalPython stage in the near-dup plan). The function is in
    # fact deterministic; the flag only constrains plan rewrites.
    return _cos.asNondeterministic()


def _lit_vec(vals) -> str:
    """A collected centroid vector as a SQL double-array literal. repr()
    of a Python float round-trips exactly, and float32 -> float64 is
    exact, so the literal doubles equal what cast(x AS double) of the
    column values produces — assignment math is bit-identical to the
    oracle's."""
    return "array(" + ", ".join(f"cast({float(v)!r} as double)" for v in vals) + ")"


def ivf_assignments(emb, centroids):
    """Assign every vector its nearest-centroid id in ONE projection:
    the K centroid vectors (the 'trained' IVF model — tiny, collected
    like MLlib collects k-means centers each iteration) are inlined as
    literals and the argmax is an array_max over struct(cos, -id), so
    ties break to the smallest centroid id. No join, no Exchange, no
    K-times row blowup — the assignment pass stays narrow at any scale.

    ``centroids``: ordered [(centroid_id, vector), ...].
    """
    terms = ", ".join(
        f"named_struct('cos', {_cos_expr('embedding', _lit_vec(cv))}, 'negid', {-cid})"
        for cid, cv in centroids
    )
    assign = F.expr(f"-array_max(array({terms})).negid").cast("int")
    return emb.select("vec_id", assign.alias("centroid_id"), "embedding")


def _ann_ivf_topk_plan(spark, sf_dir):
    """IVF-style ANN: assign every vector to its nearest of K fixed
    centroids (deterministically the first K vectors), then answer each
    query by scanning only its IVF_NPROBE nearest centroid lists. At
    corpus scale the centroid assignment is a narrow literal-expression
    pass (see ivf_assignments) and the probe is a partition-pruned scan
    instead of a full cross join. Output includes the probed-list rank
    (approximate by construction — recall vs brute force is measured by
    ann_recall, a quality metric, not a correctness bug)."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    centroids = sorted(
        (int(r.centroid_id), list(r.ce)) for r in cent.collect()
    )  # K tiny rows — the IVF "model"
    assigned = ivf_assignments(emb, centroids)
    # Queries probe their IVF_NPROBE nearest centroid lists.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qprobe = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .withColumn("qcos", F.expr(_cos_expr("qe", "ce")))
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("centroid_id"))
    probes = (
        qprobe.withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= IVF_NPROBE)
        .select("query_id", "qe", "centroid_id")
    )
    cands = (
        probes.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", F.round(F.expr(_cos_expr("qe", "embedding")), 3))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos")
    )


IVF_KMEANS_ITERS = 4
IVF_KMEANS_SAMPLE = 4096


def train_ivf_kmeans(spark, sf_dir, k: int = IVF_CENTROIDS,
                     iters: int = IVF_KMEANS_ITERS,
                     sample_cap: int = IVF_KMEANS_SAMPLE):
    """Lloyd's k-means over a bounded driver-side sample — the trained
    counterpart of the first-K centroid rule. Driver memory is sized by
    ``sample_cap``, never the corpus (the same collect-the-model shape
    MLlib's k-means uses per iteration, minus the distributed E-step it
    needs only because its sample IS the corpus). Deterministic by
    construction: the sample is the ``sample_cap`` smallest vec_ids,
    init is the first k of those, assignment is cosine (normalized
    argmax-dot) with ties to the lowest centroid id, float64 numpy
    throughout, a fixed iteration count, and empty clusters keep their
    previous centroid. Returns ordered [(centroid_id, vector), ...].

    No DuckDB oracle: iterative float means are not fold-order-stable
    across engines; determinism + recall are pytest-held instead
    (tests/test_ann_quality.py)."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id") < sample_cap).orderBy("vec_id").collect()
    X = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    C = _lloyd(X, k, iters)
    return [(j, [float(v) for v in C[j]]) for j in range(k)]


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Pure deterministic Lloyd's iterations (cosine assignment, mean
    update). Init = first k rows; empty clusters keep their centroid."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = X[:k].copy()
    for _ in range(iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = np.argmax(Xn @ Cn.T, axis=1)  # ties -> lowest id
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _ann_ivf_topk_from_centroids(spark, sf_dir, centroids):
    """The IVF probe plan over an explicit centroid model (same shape
    as _ann_ivf_topk_plan, with the model supplied rather than taken
    from the first K vectors)."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    cent = spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids],
        "centroid_id int, ce array<double>",
    )
    assigned = ivf_assignments(emb, centroids)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qprobe = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .withColumn("qcos", F.expr(_cos_expr("qe", "ce")))
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("centroid_id"))
    probes = (
        qprobe.withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= IVF_NPROBE)
        .select("query_id", "qe", "centroid_id")
    )
    cands = (
        probes.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", F.round(F.expr(_cos_expr("qe", "embedding")), 3))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cos")
    )


def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN with k-means-trained centroids (vs the fixed first-K
    model of ann_ivf_topk). Same probe plan; better-balanced lists."""
    from ocrs_spark.matcache import materialize_once

    return materialize_once(
        spark,
        sf_dir,
        "ann_topk_ivf_kmeans",
        lambda: _ann_ivf_topk_from_centroids(
            spark, sf_dir, train_ivf_kmeans(spark, sf_dir)
        ),
    )


_DUCK_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), z -> z[1]::DOUBLE * z[2]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    " * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))"
)

ORACLE_ANN_IVF = f"""
WITH cent AS (SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_CENTROIDS}),
assigned AS (
  SELECT vec_id, centroid_id, embedding FROM (
    SELECT e.vec_id, c.centroid_id, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_DUCK_COS.format(a='e.embedding', b='c.ce')} DESC,
                                       c.centroid_id ASC) AS arank
    FROM embeddings e CROSS JOIN cent c
  ) WHERE arank = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, qe, centroid_id FROM (
    SELECT q.query_id, q.qe, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_DUCK_COS.format(a='q.qe', b='c.ce')} DESC,
                                       c.centroid_id ASC) AS prank
    FROM q CROSS JOIN cent c
  ) WHERE prank <= {IVF_NPROBE}
),
cands AS (
  SELECT p.query_id, a.vec_id,
         round({_DUCK_COS.format(a='p.qe', b='a.embedding')}, 3) AS cos
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE p.query_id != a.vec_id
)
SELECT query_id, vec_id AS neighbor_id, rank, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM cands)
WHERE rank <= {TOP_K}
"""



# The three top-k tables are each consumed twice per driver run (their
# own row + the recall metric), and at scale you would land them once
# and query the landed table — materialize per (session, sf_dir).


def ann_topk_bruteforce(spark, sf_dir):
    from ocrs_spark.matcache import materialize_once

    return materialize_once(
        spark, sf_dir, "ann_topk_brute", lambda: _ann_topk_bruteforce_plan(spark, sf_dir)
    )


def ann_topk_lsh(spark, sf_dir):
    from ocrs_spark.matcache import materialize_once

    return materialize_once(
        spark, sf_dir, "ann_topk_lsh", lambda: _ann_topk_lsh_plan(spark, sf_dir)
    )


def ann_ivf_topk(spark, sf_dir):
    from ocrs_spark.matcache import materialize_once

    return materialize_once(
        spark, sf_dir, "ann_topk_ivf", lambda: _ann_ivf_topk_plan(spark, sf_dir)
    )


def ann_recall(spark, sf_dir):
    """Recall@TOP_K of each approximate method against the brute-force
    ground truth — the tuning metric for nprobe / plane count at corpus
    scale (you trade recall against the fraction of the index scanned).
    One row per method: recall = |approx ∩ exact| / (queries * k)."""
    brute = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    denom = float(N_QUERIES * TOP_K)
    out = None
    for method, fn in (("ivf", ann_ivf_topk), ("lsh", ann_topk_lsh)):
        hits = brute.join(
            fn(spark, sf_dir).select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).agg(F.count("*").alias("n_hits"))
        row = hits.select(
            F.lit(method).alias("method"),
            F.round(F.col("n_hits") / F.lit(denom), 4).alias("recall_at_k"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def _recall_oracle() -> str:
    denom = N_QUERIES * TOP_K
    parts = []
    for method, sql in (("ivf", ORACLE_ANN_IVF), ("lsh", ORACLE_ANN_LSH_TOPK)):
        parts.append(
            f"SELECT '{method}' AS method, round(count(*) / {denom}.0, 4) AS recall_at_k\n"
            f"FROM ( {ORACLE_ANN_BRUTE} ) b JOIN ( {sql} ) m USING (query_id, neighbor_id)"
        )
    return "\nUNION ALL\n".join(parts)


ORACLE_ANN_RECALL = _recall_oracle()


QUERIES = {
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_lsh_buckets": ann_lsh_buckets,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_recall": ann_recall,
    # No oracle entry (iterative float means are not fold-order-stable
    # across engines): the driver records a rows-only check; the
    # determinism + recall contract is pytest-held in
    # tests/test_ann_quality.py.
    "ann_ivf_kmeans_topk": ann_ivf_kmeans_topk,
}

ORACLES = {
    "ann_topk_bruteforce": ORACLE_ANN_BRUTE,
    "ann_lsh_buckets": ORACLE_ANN_LSH,
    "ann_topk_lsh": ORACLE_ANN_LSH_TOPK,
    "ann_ivf_topk": ORACLE_ANN_IVF,
    "ann_recall": ORACLE_ANN_RECALL,
}
