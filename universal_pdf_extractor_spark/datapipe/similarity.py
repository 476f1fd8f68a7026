"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k per query.  The dot product is
  a JVM-side F.aggregate fold (sequential summation — matches a SQL
  oracle's list-loop order bit-for-bit), norms likewise; ranking uses
  (similarity desc, vec_id asc) for a total, deterministic order.
- lsh_topk: random-hyperplane LSH variant — the scale path.  Vectors
  hash to a signed-projection bucket; queries only score candidates
  sharing a bucket in any of ``tables`` hash tables.  Hyperplanes are
  seeded deterministically (no wall-clock, no Python RNG state).
- ivf_topk: inverted-file variant — k-means-lite with deterministic
  seed centroids (first IVF_CENTROIDS vectors), one Lloyd refinement,
  probe the nearest IVF_PROBE centroids per query.

Inputs: embeddings ``(vec_id, embedding)`` and queries
``(query_id, embedding)``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812


IVF_QUANT = 1 << 24  # fixed-point scale for order-independent Lloyd sums
IVF_CENTROIDS = 16
IVF_PROBE = 4       # centroids probed per query


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


# norms are precomputed per side BEFORE any join: cosine_col would
# otherwise re-run the O(dim) norm fold once per joined pair (the
# corpus norm |queries| times, the query norm |corpus| times).
# Identical floats: same fold over the same array, just evaluated once.

def _corpus(embeddings: DataFrame) -> DataFrame:
    """(vec_id, vec, vnorm) of the embeddings."""
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"),
    ).withColumn("vnorm", _norm(F.col("vec")))


def _queries(queries: DataFrame) -> DataFrame:
    """(query_id, qvec, qnorm) of the queries."""
    return queries.select(
        "query_id", F.col("embedding").cast("array<double>").alias("qvec"),
    ).withColumn("qnorm", _norm(F.col("qvec")))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Each query's k best (query_id, vec_id, cosine, rank) among the
    candidate ``pairs`` (query_id, qvec, qnorm, vec_id, vec, vnorm),
    self-pairs excluded, ranked by (cosine desc, vec_id asc): a total,
    deterministic order."""
    scored = (pairs.where(F.col("vec_id") != F.col("query_id"))
              .withColumn("cosine", _dot(F.col("vec"), F.col("qvec"))
                          / (F.col("vnorm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int = 10) -> DataFrame:
    """Exact top-k: crossJoin(broadcast(queries)) -> rank window.

    Queries are broadcast (small side); the corpus scan parallelizes
    per partition and the only shuffle is the per-query top-k window
    over k*|queries| rows after local ranking.
    """
    return _top_k(_corpus(embeddings).crossJoin(F.broadcast(_queries(queries))), k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _bucket_col(vec_col, planes: list[list[float]]):
    bits = []
    for j, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(float(c)) for c in plane]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.shiftleft(F.when(proj >= 0, F.lit(1).cast("long"))
                                .otherwise(F.lit(0).cast("long")), j))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_topk(embeddings: DataFrame, queries: DataFrame,
             k: int = 10, n_planes: int = 8, tables: int = 4,
             dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH top-k (approximate).

    Collision in ANY of ``tables`` banded sign-buckets makes a
    candidate; candidates are scored exactly and ranked like
    brute_force_topk.  At corpus scale the candidate join replaces the
    cross join: cost ~ corpus * tables / 2^n_planes per query bucket.
    """
    corpus = _corpus(embeddings)
    q = _queries(queries)

    corpus_buckets = []
    query_buckets = []
    for t in range(tables):
        planes = _hyperplanes(dim, n_planes, seed=7 + t)
        corpus_buckets.append(
            F.struct(F.lit(t).alias("table"),
                     _bucket_col(F.col("vec"), planes).alias("bucket")))
        query_buckets.append(
            F.struct(F.lit(t).alias("table"),
                     _bucket_col(F.col("qvec"), planes).alias("bucket")))

    c = corpus.select("vec_id", "vec", "vnorm",
                      F.explode(F.array(*corpus_buckets)).alias("tb")) \
              .select("vec_id", "vec", "vnorm", "tb.table", "tb.bucket")
    qb = q.select("query_id", "qvec", "qnorm",
                  F.explode(F.array(*query_buckets)).alias("tb")) \
          .select("query_id", "qvec", "qnorm", "tb.table", "tb.bucket")

    candidates = (c.join(F.broadcast(qb), ["table", "bucket"])
                  .select("query_id", "qvec", "qnorm", "vec_id", "vec", "vnorm")
                  .dropDuplicates(["query_id", "vec_id"]))
    return _top_k(candidates, k)


def ivf_topk(embeddings: DataFrame, queries: DataFrame,
             k: int = 10) -> DataFrame:
    """IVF top-k: deterministic seed centroids (lowest vec_ids), one
    Lloyd step computed distributively, then probe-limited scoring."""
    corpus = _corpus(embeddings)
    seeds = corpus.orderBy("vec_id").limit(IVF_CENTROIDS) \
                  .select(F.col("vec_id").alias("centroid_id"),
                          F.col("vec").alias("cvec"),
                          F.col("vnorm").alias("cnorm"))

    # assignment to nearest seed, then mean per cluster (one Lloyd step)
    assigned = (corpus.crossJoin(F.broadcast(seeds))
                .withColumn("cos", _dot(F.col("vec"), F.col("cvec"))
                            / (F.col("vnorm") * F.col("cnorm"))))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    assigned = assigned.withColumn("rnk", F.row_number().over(w)).where("rnk = 1")
    # scale-safe Lloyd step: posexplode to (centroid, dim) cells —
    # state per group is one running sum, never a member list
    # (collect_list of every member vector would hold an entire
    # cluster in one aggregation row and OOM at corpus scale).
    # QUANTIZED means: summing FLOOR(val * 2^24) as int64 makes the
    # reduction order-independent (float sums are not), so centroids —
    # and therefore probe sets and results — are deterministic across
    # partitionings AND engines (the DuckDB oracle reproduces them
    # exactly); the 2^-24 quantization error is far below embedding
    # noise.
    dims = (assigned.select("centroid_id", F.posexplode("vec").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg((F.sum(F.floor(F.col("val") * IVF_QUANT).cast("long"))
                  / (F.count(F.lit(1)) * float(IVF_QUANT))).alias("mean")))
    centroids = (dims.groupBy("centroid_id")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
                 .select("centroid_id",
                         F.transform("pm", lambda s: s["mean"]).alias("cvec"))
                 .withColumn("cnorm", _norm(F.col("cvec"))))

    inv = (corpus.crossJoin(F.broadcast(centroids))
           .withColumn("cos", _dot(F.col("vec"), F.col("cvec"))
                       / (F.col("vnorm") * F.col("cnorm"))))
    inv = inv.withColumn("rnk", F.row_number().over(w)).where("rnk = 1") \
             .select("vec_id", "vec", "vnorm", "centroid_id")

    q_probe = (_queries(queries).crossJoin(F.broadcast(centroids))
               .withColumn("cos", _dot(F.col("qvec"), F.col("cvec"))
                           / (F.col("qnorm") * F.col("cnorm"))))
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    q_probe = (q_probe.withColumn("rnk", F.row_number().over(wq))
               .where(F.col("rnk") <= IVF_PROBE)
               .select("query_id", "qvec", "qnorm", "centroid_id"))

    return _top_k(inv.join(F.broadcast(q_probe), "centroid_id"), k)
