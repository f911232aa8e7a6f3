"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk`      — brute-force exact top-k (the correctness
  baseline): JVM-side ``zip_with``/``aggregate`` dot products, no Python.
- :func:`lsh_cosine_topk`  — the scale path: random-hyperplane (SRP) LSH
  bucketing so each query only scores its bucket's collision set; signatures
  are a deterministic seeded projection evaluated in a vectorized numpy UDF.
- :func:`embedding_near_duplicates` — pairs with cosine ≥ threshold inside
  LSH buckets (embedding near-dup channel of the dedup suite).

At 100 TB the broadcast side is the (small) query set; the corpus never
shuffles for brute force — the join is a broadcast nested loop with partial
top-k per partition, then a single global top-k reduce.
"""

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lsh import bucket_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v * v))


def cosine_similarity_col(a, b):
    return (_dot(a, b) / (_norm(a) * _norm(b))).cast("double")


def _as_double_vec(col):
    """array<float> inputs would multiply in float32 inside the fold (1e-6
    error — enough to flip a 6-decimal rounding boundary vs the double-exact
    oracle); promote elements before any arithmetic."""
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query (broadcast queries)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("_qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_vec(F.col(vec_col)).alias("_cvec"),
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine_similarity_col(F.col("_qvec"), F.col("_cvec"))
    )
    window = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(window))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def make_srp_signature_udf(dim: int, n_planes: int = 16, seed: int = 99):
    """Signed-random-projection bucket id (int) per embedding, deterministic."""
    # seeded hyperplanes from sha256 — no RNG state shared across executors
    raw = b"".join(
        hashlib.sha256(f"srp-{seed}-{i}".encode()).digest()
        for i in range((dim * n_planes * 4) // 32 + 1)
    )
    planes = np.frombuffer(raw[: dim * n_planes * 4], dtype="<i4").astype(np.float64)
    planes = planes.reshape(n_planes, dim)
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)

    @F.pandas_udf(T.IntegerType())
    def srp_bucket(vecs: pd.Series) -> pd.Series:
        matrix = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if matrix.size == 0:
            return pd.Series([], dtype="int32")
        bits = (matrix @ planes.T) >= 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((bits @ weights).astype(np.int32))

    # planner hint, not semantics (the projection IS deterministic): the
    # bucket equi-joins infer isnotnull(bucket) and push it below this
    # projection, evaluating the UDF twice per side (guide §4.4 — observed
    # in the ann_lsh_topk plan).  Non-deterministic blocks that pushdown;
    # the UDF never returns null, so the filter was vacuous anyway.  Leaf
    # UDF: nothing to un-fuse.
    return srp_bucket.asNondeterministic()


def lsh_cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
    n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only candidates sharing the SRP bucket are scored.
    Equi-join on the bucket id — a hash join instead of a cross product."""
    srp = make_srp_signature_udf(dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_vec(F.col(vec_col)).alias("_cvec"),
    ).withColumn("bucket", srp(F.col("_cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double_vec(F.col(vec_col)).alias("_qvec"),
    ).withColumn("bucket", srp(F.col("_qvec")))
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "cosine", cosine_similarity_col(F.col("_qvec"), F.col("_cvec"))
    )
    window = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(window))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame, n_centroids: int = 16, dim: int = 64,
    vec_col: str = "embedding", max_train: int = 16384, seed: int = 7,
    iters: int = 10, id_col: str = "vec_id",
):
    """Deterministic k-means centroids from a bounded cross-partition sample.

    Scale shape: the TRAINING set is a capped sample collected once to the
    driver (at 10^12 vectors you train on ~10^5-10^6 sampled rows — k-means
    quality saturates long before that); assignment/search stay distributed.

    Sampling = ``ORDER BY xxhash64(id) LIMIT max_train``: a pseudo-random
    but fully deterministic draw that (a) touches EVERY partition — a bare
    ``limit()`` pulls whole first partitions, and at 100 TB one file's
    vectors are spatially/temporally correlated, so centroids would tile a
    corner of the space and nprobe recall would collapse elsewhere — and
    (b) is stable across partition layouts and re-runs (hash of the row id,
    not of the plan).  Physically this is TakeOrderedAndProject: per-partition
    partial top-n, one driver merge — no global sort shuffle.

    Plain Lloyd iterations with seeded init; cosine geometry via l2-normalized
    vectors so argmax-dot == argmax-cosine."""
    sample = [list(r[0]) for r in
              corpus.filter(F.col(vec_col).isNotNull())
              .select(F.col(vec_col), F.col(id_col))
              .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
              .limit(max_train).collect()]
    if not sample:
        raise ValueError(
            "IVF training corpus is empty — nothing to sample centroids "
            "from (an upstream filter removed every embedding, or every "
            "row's embedding is NULL — e.g. unfiltered decode-error rows?)")
    widths = {len(v) for v in sample}
    if len(widths) > 1:
        raise ValueError(
            f"ragged embedding widths in the training sample: "
            f"{sorted(widths)[:5]} — every vector must have one dimension")
    X = np.asarray(sample, dtype=np.float64)
    if dim is not None and X.shape[1] != dim:
        raise ValueError(
            f"embedding width {X.shape[1]} != declared dim {dim}")
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    X = X / norms[:, None]
    k = min(n_centroids, len(X))
    rng = np.random.RandomState(seed)
    centroids = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ centroids.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                mean = members.mean(axis=0)
                n = np.linalg.norm(mean)
                centroids[c] = mean / (n if n else 1.0)
    return centroids


def make_ivf_assign_udf(centroids):
    """bucket = argmax cosine(v, centroid); vectorized, ties → lowest index."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def ivf_bucket(vecs: pd.Series) -> pd.Series:
        M = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if M.size == 0:
            return pd.Series([], dtype="int32")
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series(np.argmax((M / norms[:, None]) @ C.T, axis=1)
                         .astype(np.int32))

    # planner hint — see make_srp_signature_udf: stops the bucket join's
    # inferred isnotnull from duplicating the assignment UDF
    return ivf_bucket.asNondeterministic()


def make_ivf_probe_udf(centroids, nprobe: int):
    """Top-``nprobe`` nearest centroid ids per query vector (probe list)."""
    C = np.asarray(centroids, dtype=np.float64)
    n = min(nprobe, len(C))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def ivf_probes(vecs: pd.Series) -> pd.Series:
        def _p(v):
            x = np.asarray(v, dtype=np.float64)
            nx = np.linalg.norm(x)
            scores = (x / (nx if nx else 1.0)) @ C.T
            order = np.argsort(-scores, kind="stable")[:n]
            return [int(i) for i in order]

        return vecs.map(_p)

    # planner hint — see make_srp_signature_udf (the probe list feeds an
    # explode + bucket join; same inferred-filter duplication otherwise)
    return ivf_probes.asNondeterministic()


def ivf_cosine_topk(
    corpus: DataFrame, queries: DataFrame, centroids, k: int = 5,
    nprobe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: corpus rows live in their nearest-centroid bucket; each
    query probes its ``nprobe`` nearest buckets and scores only those rows —
    an equi-join on bucket id (the inverted-file lookup), never a cross
    product.  Centroids come from :func:`train_ivf_centroids` and ride to
    executors inside the UDF closures (broadcast by reference)."""
    assign = make_ivf_assign_udf(centroids)
    probes = make_ivf_probe_udf(centroids, nprobe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double_vec(F.col(vec_col)).alias("_cvec"),
    ).withColumn("bucket", assign(F.col("_cvec")))
    q = (
        queries.select(F.col(id_col).alias("query_id"),
                       _as_double_vec(F.col(vec_col)).alias("_qvec"))
        .withColumn("bucket", F.explode(probes(F.col("_qvec"))))
    )
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "cosine", cosine_similarity_col(F.col("_qvec"), F.col("_cvec"))
    )
    window = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(window))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_bucket_table(
    df: DataFrame, dim: int = 64, n_planes: int = 12,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, bucket) — the SRP bucket assignment used by the embedding
    near-dup channel; exposed so callers can count the hot-bucket cap's
    exclusions (``lsh.dropped_bucket_stats(table, ["bucket"], cap)``) on
    the same assignment."""
    srp = make_srp_signature_udf(dim, n_planes)
    return df.select(F.col(id_col).alias("id"),
                     _as_double_vec(F.col(vec_col)).alias("vec")) \
             .withColumn("bucket", srp(F.col("vec")))


def embedding_near_duplicates(
    df: DataFrame, threshold: float = 0.95, dim: int = 64,
    n_planes: int = 12, id_col: str = "vec_id", vec_col: str = "embedding",
    max_bucket_size: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b) within SRP buckets.

    The :func:`lsh.bucket_pairs` kernel over the SRP bucket table (no
    self-join, so the SRP UDF lineage evaluates ONCE), with its hot-bucket
    cap: one degenerate bucket (all-zero / boilerplate embeddings) would
    otherwise expand to B²/2 pairs.  Exclusions are observable via
    ``lsh.dropped_bucket_stats`` over :func:`embedding_bucket_table`."""
    pairs = bucket_pairs(
        embedding_bucket_table(df, dim, n_planes, id_col, vec_col),
        ["bucket"], F.struct("id", "vec"), max_bucket_size)
    return (
        pairs.withColumn(
            "cosine", cosine_similarity_col(F.col("p.u.vec"), F.col("p.v.vec")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least("p.u.id", "p.v.id").alias("id_a"),
            F.greatest("p.u.id", "p.v.id").alias("id_b"),
            "cosine",
        )
        .filter(F.col("id_a") != F.col("id_b"))  # duplicated input ids
        .distinct()
    )
