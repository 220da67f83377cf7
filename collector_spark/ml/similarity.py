"""Similarity search over the embeddings table (array<float>, 64 dims).

  brute-force cosine top-k — the correctness baseline: query set x corpus,
      JVM-side fold for the dot product, row_number window for top-k.
  LSH-bucketed ANN — the scale path: sign-bit hyperplane bucketing (here:
      the first HP dims' signs), candidates only within the query's bucket.

Scale design: brute force is O(|Q| x |C|) — fine for small query sets
because the corpus side stays distributed and the query side broadcasts.
The LSH variant bounds the join to bucket-mates (expected corpus/2^HP per
bucket); at 100 TB this is the difference between a full cross join and a
bucket-equi join. An IVF variant would substitute k-means centroids for
sign bits — same join shape.

Float-determinism contract with the oracle: cast float->double (exact),
then a strictly sequential left fold for dot/norm (Spark ``aggregate`` ==
DuckDB ``list_reduce``), so both engines produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_QUERIES = 5   # vec_id < 5 are the query set
TOP_K = 10
HP = 8          # hyperplane sign bits for LSH bucketing


def _fold_dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_fold_dot(a, a))


def brute_force_topk(spark: SparkSession) -> DataFrame:
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"))
    # broadcast the tiny query side; corpus stays distributed
    joined = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("query_id") != F.col("corpus_id")
    )
    cosine = (_fold_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
        "cosine"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        joined.select("query_id", "corpus_id", cosine)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


_SQL_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _sql_dot(a: str, b: str) -> str:
    return _SQL_DOT.format(a=a, b=b)


def oracle_brute_force_topk() -> str:
    dot = _sql_dot("q.embedding", "c.embedding")
    qq = _sql_dot("q.embedding", "q.embedding")
    cc = _sql_dot("c.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS cosine
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, corpus_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _bucket(col: Column) -> Column:
    out = F.lit(0)
    for j in range(HP):
        out = out + F.when(F.element_at(col, j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("int")


def lsh_topk(spark: SparkSession) -> DataFrame:
    """ANN: candidates restricted to the query's sign-bit bucket."""
    emb = spark.table("embeddings").withColumn("bucket", _bucket(F.col("embedding")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"), "bucket"
    )
    joined = corpus.join(F.broadcast(queries), on="bucket").filter(
        F.col("query_id") != F.col("corpus_id")
    )
    cosine = (_fold_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias(
        "cosine"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        joined.select("query_id", "corpus_id", cosine)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def lsh_multiprobe_topk(spark: SparkSession) -> DataFrame:
    """Multi-probe ANN: each query also probes the HP buckets at Hamming
    distance 1 from its own (flip one sign bit), recovering the
    near-boundary recall the single-bucket variant loses. Join volume grows
    (HP+1)x on the (broadcast) query side only — the corpus still shuffles
    nothing and candidates stay bucket-bounded."""
    emb = spark.table("embeddings").withColumn("bucket", _bucket(F.col("embedding")))
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(HP)]
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode(probes).alias("bucket"),
        )
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"), "bucket"
    )
    joined = corpus.join(F.broadcast(queries), on="bucket").filter(
        F.col("query_id") != F.col("corpus_id")
    )
    cosine = (
        _fold_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    ).alias("cosine")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        joined.select("query_id", "corpus_id", cosine)
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def oracle_lsh_multiprobe_topk() -> str:
    bucket = " + ".join(
        f"CASE WHEN embedding[{j + 1}] > 0 THEN {1 << j} ELSE 0 END" for j in range(HP)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(HP)])
    dot = _sql_dot("q.embedding", "c.embedding")
    qq = _sql_dot("q.embedding", "q.embedding")
    cc = _sql_dot("c.embedding", "c.embedding")
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM embeddings),
probes AS (
  SELECT vec_id, embedding, CAST(unnest([{probes}]) AS INT) AS bucket
  FROM b WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS cosine
  FROM probes q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT query_id, corpus_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


N_CENTROIDS = 8
IVF_PROBES = 2


def ivf_topk(spark: SparkSession) -> DataFrame:
    """IVF ANN: corpus vectors are assigned to their nearest centroid
    (inverted lists); a query probes its IVF_PROBES nearest centroids and
    scores only those lists. Same join shape as the LSH variant — the
    centroid set substitutes for sign-bit buckets.

    Centroids here are a fixed deterministic subset of the corpus (vec_id
    in [N_QUERIES, N_QUERIES + N_CENTROIDS)); ``kmeans_assign`` below
    trains real Lloyd centroids from the same init with an exact oracle —
    swap its cent table in and the assignment/probe/join plan is
    identical. Assignment ties break by centroid_id via the
    row_number ordering, keeping both engines aligned."""
    from pyspark.sql import Window

    emb = spark.table("embeddings")
    centroids = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        (F.col("vec_id") - N_QUERIES).cast("int").alias("centroid_id"),
        F.col("embedding").alias("centv"),
    )

    def nearest(df, vec_col, keep, n):
        scored = df.crossJoin(F.broadcast(centroids)).select(
            *keep,
            "centroid_id",
            (
                _fold_dot(F.col(vec_col), F.col("centv"))
                / (_norm(F.col(vec_col)) * _norm(F.col("centv")))
            ).alias("cent_cos"),
        )
        w = Window.partitionBy(*keep[:1]).orderBy(
            F.desc("cent_cos"), F.asc("centroid_id")
        )
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n)
            .drop("__r", "cent_cos")
        )

    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    corpus_lists = nearest(corpus, "cv", ["corpus_id", "cv"], 1)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    query_probes = nearest(queries, "qv", ["query_id", "qv"], IVF_PROBES)

    joined = corpus_lists.join(F.broadcast(query_probes), on="centroid_id").filter(
        F.col("query_id") != F.col("corpus_id")
    )
    cosine = (
        _fold_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    ).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        joined.select("query_id", "corpus_id", cosine)
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def oracle_ivf_topk() -> str:
    dotc = _sql_dot("x.embedding", "c.embedding")
    xx = _sql_dot("x.embedding", "x.embedding")
    cc2 = _sql_dot("c.embedding", "c.embedding")
    dot = _sql_dot("q.qv", "co.cv")
    qq = _sql_dot("q.qv", "q.qv")
    cv = _sql_dot("co.cv", "co.cv")
    return f"""
WITH centroids AS (
  SELECT CAST(vec_id - {N_QUERIES} AS INT) AS centroid_id, embedding
  FROM embeddings WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
corpus_scored AS (
  SELECT x.vec_id AS corpus_id, x.embedding AS cv, c.centroid_id,
    ({dotc}) / (sqrt({xx}) * sqrt({cc2})) AS cent_cos
  FROM embeddings x CROSS JOIN centroids c
),
corpus_lists AS (
  SELECT corpus_id, cv, centroid_id FROM corpus_scored
  QUALIFY row_number() OVER (PARTITION BY corpus_id ORDER BY cent_cos DESC, centroid_id) <= 1
),
query_scored AS (
  SELECT x.vec_id AS query_id, x.embedding AS qv, c.centroid_id,
    ({dotc}) / (sqrt({xx}) * sqrt({cc2})) AS cent_cos
  FROM embeddings x CROSS JOIN centroids c
  WHERE x.vec_id < {N_QUERIES}
),
query_probes AS (
  SELECT query_id, qv, centroid_id FROM query_scored
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cent_cos DESC, centroid_id) <= {IVF_PROBES}
),
scored AS (
  SELECT DISTINCT q.query_id, co.corpus_id,
    ({dot}) / (sqrt({qq}) * sqrt({cv})) AS cosine
  FROM corpus_lists co JOIN query_probes q USING (centroid_id)
  WHERE q.query_id <> co.corpus_id
)
SELECT query_id, corpus_id, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


NEARDUP_THRESHOLD = 0.95
# The synthetic embeddings are near-orthogonal random vectors (max pairwise
# cosine ~0.51 at sf0.01), so the production 0.95 threshold matches nothing
# and a correctness row would be vacuously empty. Verification registers the
# same operator at a data-calibrated threshold so the bucket join + cosine
# filter + cluster propagation actually process rows; the threshold is the
# only knob that differs.
VERIFY_NEARDUP_THRESHOLD = 0.30


def embedding_neardup_pairs(
    spark: SparkSession, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates restricted to
    sign-bit bucket-mates (same shape as the LSH join — no all-pairs cross
    join), kept when cosine >= threshold."""
    emb = spark.table("embeddings").withColumn("bucket", _bucket(F.col("embedding")))
    left = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), "bucket"
    )
    right = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), "bucket"
    )
    joined = left.join(right, on="bucket").filter(F.col("vec_a") < F.col("vec_b"))
    cosine = (
        _fold_dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    ).alias("cosine")
    return (
        joined.select("vec_a", "vec_b", cosine)
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def oracle_embedding_neardup_pairs(threshold: float = NEARDUP_THRESHOLD) -> str:
    bucket = " + ".join(
        f"CASE WHEN embedding[{j + 1}] > 0 THEN {1 << j} ELSE 0 END" for j in range(HP)
    )
    dot = _sql_dot("a.embedding", "b.embedding")
    aa = _sql_dot("a.embedding", "a.embedding")
    bb = _sql_dot("b.embedding", "b.embedding")
    return f"""
WITH bk AS (SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ({dot}) / (sqrt({aa}) * sqrt({bb})) AS cosine
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ({dot}) / (sqrt({aa}) * sqrt({bb})) >= {threshold}
ORDER BY vec_a, vec_b
"""


def oracle_lsh_topk() -> str:
    bucket = " + ".join(
        f"CASE WHEN embedding[{j + 1}] > 0 THEN {1 << j} ELSE 0 END" for j in range(HP)
    )
    dot = _sql_dot("q.embedding", "c.embedding")
    qq = _sql_dot("q.embedding", "q.embedding")
    cc = _sql_dot("c.embedding", "c.embedding")
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS cosine
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, corpus_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


def embedding_dup_clusters(
    spark: SparkSession, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Near-duplicate clusters in embedding space: the ml/dedup.py cluster
    assembly (connected components, sizes, canonical flag) over the
    verified cosine near-dup pair graph — the embedding-side counterpart of
    ml_dup_clusters, giving a training pipeline the transitive keep/drop
    grouping rather than raw pairs. Output: (vec_id, cluster_id = min
    reachable vec_id, cluster_size, is_canonical)."""
    from collector_spark.ml.dedup import _clusters

    pairs = embedding_neardup_pairs(spark, threshold).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return _clusters(pairs, "vec_id").orderBy("vec_id")


def oracle_embedding_dup_clusters(threshold: float = NEARDUP_THRESHOLD) -> str:
    pairs = oracle_embedding_neardup_pairs(threshold)
    pairs_inner = pairs.rsplit("ORDER BY", 1)[0]
    return f"""
WITH RECURSIVE verified AS ({pairs_inner}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM verified
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM verified
),
walk(node, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.node
),
cc AS (SELECT node, MIN(r) AS cluster_id FROM walk GROUP BY node),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.node AS vec_id, cc.cluster_id, sizes.cluster_size,
       cc.node = cc.cluster_id AS is_canonical
FROM cc JOIN sizes USING (cluster_id)
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# K-means training (closes the IVF "production would k-means offline" IOU)
# ---------------------------------------------------------------------------

KMEANS_K = N_CENTROIDS
KMEANS_ITERS = 2
# quantization scale: components become exact multiples of 2^-20, so every
# partial SUM over <= ~2^11 rows is exactly representable in a double and
# the centroid update is order-insensitive — the property that lets a
# distributed fold match a single-threaded oracle bit-for-bit. (Fixed-point
# accumulation is also how production distributed trainers get run-to-run
# determinism.)
KMEANS_SCALE = 1 << 20

_DIM = 64


def _quantize(col: Column) -> Column:
    return F.transform(
        col,
        lambda x: F.round(x.cast("double") * KMEANS_SCALE) / F.lit(float(KMEANS_SCALE)),
    )


def _sqdist(v: Column, c: Column) -> Column:
    diffs = F.zip_with(v, c, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _assign_to(emb: DataFrame, cent: DataFrame, n: int) -> DataFrame:
    """n-nearest-centroid rows for any (vec_id, v) relation against any
    (cid, c) centroid relation — the K-row broadcast cross join + exact
    quantized-L2 argmin shared by training, probing, and the SERVE path
    over a RELOADED index (ivf_trained_topk_from_index), where no
    training plan may appear."""
    from pyspark.sql import Window

    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "cid", _sqdist(F.col("v"), F.col("c")).alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .select("vec_id", "v", "cid", "d2", "__r")
    )


def _kmeans_train(spark: SparkSession):
    """Shared Lloyd training plan: returns (quantized embeddings, trained
    centroid relation, assign(cent, n) -> n-nearest-centroid rows)."""

    emb = spark.table("embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("v")
    )
    centroids = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + KMEANS_K)
    ).select(
        (F.col("vec_id") - N_QUERIES).cast("int").alias("cid"), F.col("v").alias("c")
    )

    def assign(cent: DataFrame, n: int) -> DataFrame:
        return _assign_to(emb, cent, n)

    cent = centroids
    for _ in range(KMEANS_ITERS):
        assigned = assign(cent, 1)
        sums = assigned.groupBy("cid").agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("v", d)).alias(f"s{d}") for d in range(1, _DIM + 1)],
        )
        updated = sums.select(
            "cid",
            F.array(
                *[F.col(f"s{d}") / F.col("n") for d in range(1, _DIM + 1)]
            ).alias("c"),
        )
        # an emptied cluster keeps its previous centroid
        cent = (
            cent.select("cid", F.col("c").alias("c_prev"))
            .join(updated, "cid", "left")
            .select("cid", F.coalesce(F.col("c"), F.col("c_prev")).alias("c"))
        )
    return emb, cent, assign


def kmeans_assign(spark: SparkSession) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, expressed entirely in
    DataFrame ops: per-iteration broadcast of the K centroids, exact
    argmin assignment (ties -> lower centroid_id), centroid update via 64
    per-dimension SUM aggregates over quantized components (exact, see
    KMEANS_SCALE). KMEANS_ITERS unrolled into one lazy plan.

    Scale: each iteration is one broadcast cross join (K rows) + one
    combinable groupBy(cluster) — shuffle carries K*DIM partial sums per
    map task, never the vectors. Same init as ivf_topk, so the trained
    centroids drop into the same assignment/probe/join plan.
    """
    emb, cent, assign = _kmeans_train(spark)
    final = assign(cent, 1).select("vec_id", "v", "cid", "d2")
    sizes = final.groupBy("cid").agg(F.count("*").cast("long").alias("cluster_size"))
    return (
        final.join(F.broadcast(sizes), "cid")
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            F.col("d2").alias("sq_dist"),
            "cluster_size",
        )
        .orderBy("vec_id")
    )


def oracle_kmeans_assign() -> str:
    parts, _ = _oracle_kmeans_parts()
    parts.append(
        "sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_size "
        "FROM afinal GROUP BY cid)"
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT a.vec_id, a.cid AS cluster_id, a.d2 AS sq_dist, s.cluster_size
FROM afinal a JOIN sizes s USING (cid)
ORDER BY a.vec_id
"""


def ivf_trained_topk(spark: SparkSession) -> DataFrame:
    """IVF ANN over TRAINED centroids: the k-means plan above feeds its
    final centroid relation straight into the inverted-list/probe/join
    shape of ivf_topk — the composition its docstring promises. Corpus
    lists and query probes assign by the training metric (exact quantized
    L2); candidate ranking uses the same cosine as every other top-k."""
    _, cent, assign = _kmeans_train(spark)
    corpus_lists = assign(cent, 1).select(
        F.col("vec_id").alias("corpus_id"), "cid"
    )
    probes = (
        assign(cent, IVF_PROBES)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    return _ivf_probe_rank(spark, corpus_lists, probes)


def _ivf_probe_rank(
    spark: SparkSession, corpus_lists: DataFrame, probes: DataFrame
) -> DataFrame:
    """The shared IVF serve tail: probe-bucket candidate join + exact
    cosine rerank + per-query top-k — identical whether the lists/probes
    come from the in-plan trainer (ivf_trained_topk) or from a RELOADED
    parquet index (ivf_trained_topk_from_index)."""
    from pyspark.sql import Window

    emb_raw = spark.table("embeddings")
    qv = emb_raw.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = emb_raw.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    joined = (
        corpus_lists.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .distinct()
        .join(F.broadcast(qv), "query_id")
        .join(cv, "corpus_id")
    )
    cosine = (
        _fold_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))
    ).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        joined.select("query_id", "corpus_id", cosine)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def ivf_index_write(spark: SparkSession, out_dir: str) -> DataFrame:
    """Persist the trained IVF index as the two parquet relations it IS —
    centroids (cid, c) and the inverted lists (corpus_id) PARTITIONED BY
    cid, so a probing read prunes to the probed lists' partitions — and
    return the read-back audit. An ACTION (like export_corpus), never
    registered: build once, then every serve run is
    ivf_trained_topk_from_index with NO training plan. Centroid arrays
    are doubles; parquet round-trips them bit-exactly, so the serve path
    is value-identical to the in-plan form (test-pinned)."""
    _, cent, assign = _kmeans_train(spark)
    lists = assign(cent, 1).select(F.col("vec_id").alias("corpus_id"), "cid")
    cent.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    lists.write.mode("overwrite").partitionBy("cid").parquet(f"{out_dir}/lists")
    rows = [
        ("centroids", spark.read.parquet(f"{out_dir}/centroids").count()),
        ("lists", spark.read.parquet(f"{out_dir}/lists").count()),
    ]
    return spark.createDataFrame(rows, "relation string, n_rows long")


def ivf_trained_topk_from_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Serve path over a RELOADED index: assign ONLY the query vectors to
    the loaded centroids (one K-row broadcast cross join), read the
    inverted lists relation, and rank through the shared tail. The
    k-means training plan appears NOWHERE here — the production shape
    where one index build amortizes over every query batch."""
    cent = spark.read.parquet(f"{index_dir}/centroids")
    corpus_lists = spark.read.parquet(f"{index_dir}/lists").select(
        "corpus_id", "cid"
    )
    qemb = (
        spark.table("embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", _quantize(F.col("embedding")).alias("v"))
    )
    probes = _assign_to(qemb, cent, IVF_PROBES).select(
        F.col("vec_id").alias("query_id"), "cid"
    )
    return _ivf_probe_rank(spark, corpus_lists, probes)


def _oracle_kmeans_parts() -> tuple[list, str]:
    """The shared CTE chain of the k-means oracle: quantize, init, ITERS
    assign/update rounds. Returns (parts, final centroid CTE name)."""
    dims = range(1, _DIM + 1)
    q = (
        "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * "
        f"{KMEANS_SCALE}) / {KMEANS_SCALE}.0)"
    )
    d2 = " + ".join(f"(s.v[{d}] - c.c[{d}]) * (s.v[{d}] - c.c[{d}])" for d in dims)
    sums = ", ".join(f"SUM(v[{d}]) AS s{d}" for d in dims)
    mean_list = ", ".join(f"s{d} / n" for d in dims)

    def assign_cte(cent: str, name: str) -> str:
        # MATERIALIZED stops DuckDB's default CTE inlining, which would
        # otherwise duplicate the whole upstream iteration chain once per
        # dimension reference — exponential plan growth across iterations
        return f"""{name}0 AS MATERIALIZED (
  SELECT s.vec_id, s.v, c.cid, {d2} AS d2,
    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY {d2} ASC, c.cid ASC) AS rn
  FROM scaled s CROSS JOIN {cent} c
),
{name} AS MATERIALIZED (SELECT vec_id, v, cid, d2 FROM {name}0 WHERE rn = 1)"""

    def update_cte(assigned: str, prev: str, name: str) -> str:
        return f"""{name}_sums AS (
  SELECT cid, COUNT(*) AS n, {sums} FROM {assigned} GROUP BY cid
),
{name} AS MATERIALIZED (
  SELECT p.cid, COALESCE(u.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT cid, [{mean_list}] AS c FROM {name}_sums
  ) u USING (cid)
)"""

    parts = [
        f"scaled AS MATERIALIZED (SELECT vec_id, {q} AS v FROM embeddings)",
        f"""cent0 AS (
  SELECT CAST(vec_id - {N_QUERIES} AS INT) AS cid, v AS c
  FROM scaled WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + KMEANS_K}
)""",
    ]
    prev = "cent0"
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(assign_cte(prev, f"a{it}"))
        parts.append(update_cte(f"a{it}", prev, f"cent{it}"))
        prev = f"cent{it}"
    parts.append(assign_cte(prev, "afinal"))
    return parts, prev


def oracle_ivf_trained_topk() -> str:
    parts, cent = _oracle_kmeans_parts()
    dims = range(1, _DIM + 1)
    d2 = " + ".join(f"(s.v[{d}] - c.c[{d}]) * (s.v[{d}] - c.c[{d}])" for d in dims)
    dot = _sql_dot("eq.embedding", "ec.embedding")
    qq = _sql_dot("eq.embedding", "eq.embedding")
    cc = _sql_dot("ec.embedding", "ec.embedding")
    parts.append(
        f"""probes0 AS (
  SELECT s.vec_id, c.cid,
    ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY {d2} ASC, c.cid ASC) AS rn
  FROM scaled s CROSS JOIN {cent} c
  WHERE s.vec_id < {N_QUERIES}
),
probes AS (SELECT vec_id AS query_id, cid FROM probes0 WHERE rn <= {IVF_PROBES}),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS corpus_id
  FROM afinal a JOIN probes p USING (cid)
  WHERE p.query_id <> a.vec_id
),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
    ({dot}) / (sqrt({qq}) * sqrt({cc})) AS cosine
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.corpus_id
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT query_id, corpus_id, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@K of each approximate index against the
# brute-force ground truth — the measurement an embedding pipeline runs
# before trusting an index at scale. The ground-truth side is
# O(queries x K) rows, so every comparison join broadcasts it; the ANN
# result sets are equally tiny. (The expensive inputs — brute force and
# the three index scans — are the already-registered operators; this
# composes their outputs.)
# ---------------------------------------------------------------------------


def ann_recall(spark: SparkSession) -> DataFrame:
    truth = brute_force_topk(spark).select("query_id", "corpus_id")
    denom = truth.groupBy("query_id").agg(
        F.count("*").cast("long").alias("truth_k")
    )
    methods = (
        ("lsh", lsh_topk(spark)),
        ("lsh_multiprobe", lsh_multiprobe_topk(spark)),
        ("ivf", ivf_topk(spark)),
        ("ivf_sq8", ivf_sq8_topk(spark)),
        ("ivf_pq", ivf_pq_topk(spark)),
        ("pq", pq_topk(spark)),
    )
    marked = truth.withColumn("hit", F.lit(1))
    outs = []
    for name, df in methods:
        # one pass per method: returned and hits fold in the same groupBy,
        # so each ANN plan (and the brute-force subtree inside `truth`)
        # evaluates once, not once per statistic
        stats = (
            df.select("query_id", "corpus_id")
            .join(F.broadcast(marked), ["query_id", "corpus_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count("*").cast("long").alias("returned"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("hits"),
            )
        )
        outs.append(
            denom.join(stats, "query_id", "left")
            .select(
                F.lit(name).alias("method"),
                "query_id",
                F.coalesce("returned", F.lit(0)).alias("returned"),
                F.coalesce("hits", F.lit(0)).alias("hits"),
                "truth_k",
                (
                    F.coalesce("hits", F.lit(0)).cast("double")
                    / F.col("truth_k").cast("double")
                ).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("method", "query_id")


def oracle_ann_recall() -> str:
    truth = oracle_brute_force_topk().rsplit("ORDER BY", 1)[0]
    anns = (
        ("lsh", oracle_lsh_topk().rsplit("ORDER BY", 1)[0]),
        ("lsh_multiprobe", oracle_lsh_multiprobe_topk().rsplit("ORDER BY", 1)[0]),
        ("ivf", oracle_ivf_topk().rsplit("ORDER BY", 1)[0]),
        ("ivf_sq8", oracle_ivf_sq8_topk().rsplit("ORDER BY", 1)[0]),
        ("ivf_pq", oracle_ivf_pq_topk().rsplit("ORDER BY", 1)[0]),
        ("pq", oracle_pq_topk().rsplit("ORDER BY", 1)[0]),
    )
    branches = []
    for name, sql in anns:
        branches.append(f"""
SELECT '{name}' AS method, d.query_id,
  COALESCE(r.returned, 0) AS returned,
  COALESCE(h.hits, 0) AS hits,
  d.truth_k,
  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(d.truth_k AS DOUBLE) AS recall
FROM denom d
LEFT JOIN (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS returned
           FROM ({sql}) a GROUP BY query_id) r USING (query_id)
LEFT JOIN (SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS hits
           FROM ({sql}) a JOIN truth t
             ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
           GROUP BY a.query_id) h USING (query_id)""")
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH truth AS ({truth}),
denom AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS truth_k
          FROM truth GROUP BY query_id)
SELECT * FROM ({union})
ORDER BY method, query_id
"""


# ---------------------------------------------------------------------------
# E90 — IVF probe-tuning curve: recall-vs-cost over an (nlist, nprobe)
# grid — the ANN twin of ml_lsh_tuning, and THE table that sizes an IVF
# index before a 100 TB build (how many lists, how many probes, what
# candidate recall each point buys). All configs share ONE centroid pool
# (the fixed deterministic subset ivf_topk uses; an nlist-L config uses
# the first L centroids) and ONE corpus x centroid scoring pass — per
# config there is only a rank filter, never a truth or score
# re-derivation (the r8 lsh_tuning lesson, plan-pinned).
#
# Metrics per (nlist, nprobe): candidate recall — the fraction of
# brute-force top-K truth pairs whose corpus vector's inverted list is
# among the query's top-nprobe probes (exact-rerank pipelines convert
# candidate recall 1:1 into recall@K) — and avg_scanned, the mean number
# of corpus rows in the probed lists per query (self included), the scan
# cost the recall is bought with.
#
# Scale: the centroid pool broadcasts (bounded); the one scoring pass is
# map-only behind it; rank filters are corpus-keyed windows; the truth
# join carries O(queries x K) rows. No per-config rescan of anything
# data-sized.
# ---------------------------------------------------------------------------

IVF_TUNE_NLISTS = [4, 8]
IVF_TUNE_NPROBES = [1, 2, 4]


def ivf_tuning(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    emb = spark.table("embeddings")
    cent = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        (F.col("vec_id") - N_QUERIES).cast("int").alias("centroid_id"),
        F.col("embedding").alias("centv"),
    )
    scored = emb.select("vec_id", F.col("embedding").alias("v")).crossJoin(
        F.broadcast(cent)
    ).select(
        "vec_id",
        "centroid_id",
        (
            _fold_dot(F.col("v"), F.col("centv"))
            / (_norm(F.col("v")) * _norm(F.col("centv")))
        ).alias("cent_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cent_cos"), F.asc("centroid_id"))
    ranked = None
    for L in IVF_TUNE_NLISTS:
        r = (
            scored.filter(F.col("centroid_id") < L)
            .withColumn("rk", F.row_number().over(w).cast("int"))
            .select(
                F.lit(L).cast("int").alias("nlist"), "vec_id", "centroid_id", "rk"
            )
        )
        ranked = r if ranked is None else ranked.unionByName(r)
    assign = ranked.filter(F.col("rk") == 1).select(
        "nlist", F.col("vec_id").alias("corpus_id"), F.col("centroid_id").alias("cid")
    )
    max_probe = max(IVF_TUNE_NPROBES)
    probes = ranked.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("rk") <= max_probe)
    ).select(
        "nlist",
        F.col("vec_id").alias("query_id"),
        F.col("centroid_id").alias("cid"),
        F.col("rk").alias("probe_rank"),
    )
    configs = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(L).cast("int").alias("nlist"),
                            F.lit(p).cast("int").alias("nprobe"),
                        )
                        for L in IVF_TUNE_NLISTS
                        for p in IVF_TUNE_NPROBES
                    ]
                )
            ).alias("c")
        )
        .select("c.nlist", "c.nprobe")
    )
    truth = brute_force_topk(spark).select("query_id", "corpus_id")
    tr = truth.join(assign, "corpus_id").join(
        probes, ["nlist", "query_id", "cid"], "left"
    )
    hits = tr.join(F.broadcast(configs), "nlist").groupBy("nlist", "nprobe").agg(
        F.count("*").cast("long").alias("n_truth"),
        F.sum(F.when(F.col("probe_rank") <= F.col("nprobe"), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
    )
    sizes = assign.groupBy("nlist", "cid").agg(
        F.count("*").cast("long").alias("list_n")
    )
    scan = (
        probes.join(F.broadcast(configs), "nlist")
        .filter(F.col("probe_rank") <= F.col("nprobe"))
        .join(sizes, ["nlist", "cid"])
        .groupBy("nlist", "nprobe")
        .agg(F.sum("list_n").cast("long").alias("scanned_total"))
    )
    return (
        hits.join(scan, ["nlist", "nprobe"])
        .select(
            "nlist",
            "nprobe",
            "n_truth",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_truth")).alias("recall"),
            (F.col("scanned_total").cast("double") / F.lit(float(N_QUERIES))).alias(
                "avg_scanned"
            ),
        )
        .orderBy("nlist", "nprobe")
    )


def oracle_ivf_tuning() -> str:
    dotc = _sql_dot("x.embedding", "c.embedding")
    xx = _sql_dot("x.embedding", "x.embedding")
    cc2 = _sql_dot("c.embedding", "c.embedding")
    truth = oracle_brute_force_topk().rsplit("ORDER BY", 1)[0]
    ranked_branches = "\nUNION ALL\n".join(
        f"""  SELECT {L} AS nlist, vec_id, centroid_id,
    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, centroid_id) AS INT) AS rk
  FROM scored WHERE centroid_id < {L}"""
        for L in IVF_TUNE_NLISTS
    )
    config_rows = ", ".join(
        f"({L}, {p})" for L in IVF_TUNE_NLISTS for p in IVF_TUNE_NPROBES
    )
    max_probe = max(IVF_TUNE_NPROBES)
    return f"""
WITH centroids AS (
  SELECT CAST(vec_id - {N_QUERIES} AS INT) AS centroid_id, embedding
  FROM embeddings WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
scored AS (
  SELECT x.vec_id, c.centroid_id,
    ({dotc}) / (sqrt({xx}) * sqrt({cc2})) AS cent_cos
  FROM embeddings x CROSS JOIN centroids c
),
ranked AS (
{ranked_branches}
),
assign AS (SELECT nlist, vec_id AS corpus_id, centroid_id AS cid FROM ranked WHERE rk = 1),
probes AS (
  SELECT nlist, vec_id AS query_id, centroid_id AS cid, rk AS probe_rank
  FROM ranked WHERE vec_id < {N_QUERIES} AND rk <= {max_probe}
),
configs AS (SELECT CAST(nlist AS INT) AS nlist, CAST(nprobe AS INT) AS nprobe
            FROM (VALUES {config_rows}) t(nlist, nprobe)),
truth AS ({truth}),
tr AS (
  SELECT t.query_id, a.nlist, p.probe_rank
  FROM truth t
  JOIN assign a USING (corpus_id)
  LEFT JOIN probes p ON p.nlist = a.nlist AND p.query_id = t.query_id AND p.cid = a.cid
),
hits AS (
  SELECT c.nlist, c.nprobe,
    CAST(COUNT(*) AS BIGINT) AS n_truth,
    CAST(SUM(CASE WHEN probe_rank <= c.nprobe THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM tr JOIN configs c USING (nlist) GROUP BY c.nlist, c.nprobe
),
sizes AS (SELECT nlist, cid, CAST(COUNT(*) AS BIGINT) AS list_n
          FROM assign GROUP BY nlist, cid),
scan AS (
  SELECT c.nlist, c.nprobe, CAST(SUM(s.list_n) AS BIGINT) AS scanned_total
  FROM probes p
  JOIN configs c USING (nlist)
  JOIN sizes s ON s.nlist = p.nlist AND s.cid = p.cid
  WHERE p.probe_rank <= c.nprobe
  GROUP BY c.nlist, c.nprobe
)
SELECT h.nlist, h.nprobe, h.n_truth, h.n_hits,
  CAST(h.n_hits AS DOUBLE) / h.n_truth AS recall,
  CAST(s.scanned_total AS DOUBLE) / {N_QUERIES} AS avg_scanned
FROM hits h JOIN scan s USING (nlist, nprobe)
ORDER BY nlist, nprobe
"""


# ---------------------------------------------------------------------------
# E45 — product-quantization ANN (Jégou et al. 2011 PQ/ADC): each vector is
# split into PQ_M subvectors; each subspace has a PQ_K-entry codebook
# (seeded from the same corpus rows as the k-means init — assignment-only
# PQ, so the oracle stays a finite CTE chain); a corpus vector is stored as
# PQ_M small codes (the compression: M bytes instead of DIM floats), and a
# query scores candidates ASYMMETRICALLY via a per-query lookup table of
# exact subspace distances to every codebook entry, summed over subspaces.
#
# Scale shape (the reason PQ exists at 100 TB): the corpus side of the
# search carries ONLY (vec_id, m, code) — never the vectors; the per-query
# LUT is |Q| x M x K rows (bounded, broadcast); ADC is one broadcast join
# + one combinable groupBy(query, vec). Encoding is a broadcast join
# against the M x K codebook relation.
#
# Exactness contract: components quantized to 2^-20 multiples (KMEANS_SCALE)
# -> subspace squared distances are exact multiples of 2^-40 with < 2^12
# integer bits, so every sum here is exactly representable and
# order-insensitive; both engines agree bit-for-bit.
# ---------------------------------------------------------------------------

PQ_M = 8                 # subspaces
PQ_SUB = _DIM // PQ_M    # dims per subspace
PQ_K = 8                 # codebook entries per subspace


def _pq_parts(spark: SparkSession):
    """(queries_sub, corpus codes, codebook, lut): the shared PQ plan."""
    emb = spark.table("embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("v")
    )
    sub = F.expr(f"slice(v, m * {PQ_SUB} + 1, {PQ_SUB})")
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    cb = (
        emb.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .select((F.col("vec_id") - N_QUERIES).cast("int").alias("k"), "v")
        .select("k", ms, "v")
        .select("m", "k", sub.alias("cb"))
    )
    corpus_sub = emb.select("vec_id", ms, "v").select("vec_id", "m", sub.alias("sv"))
    from pyspark.sql import Window

    scored = corpus_sub.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "k", _sqdist(F.col("sv"), F.col("cb")).alias("d2")
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d2"), F.asc("k"))
    codes = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("vec_id", "m", "k")
    )
    q_sub = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), ms, "v")
        .select("query_id", "m", sub.alias("qv"))
    )
    lut = q_sub.join(F.broadcast(cb), "m").select(
        "query_id", "m", "k", _sqdist(F.col("qv"), F.col("cb")).alias("ld2")
    )
    return codes, lut


def pq_topk(spark: SparkSession) -> DataFrame:
    """ADC search: corpus codes x broadcast per-query LUT -> summed
    subspace distances -> top-k per query (asc distance, tie corpus_id).
    Self-matches excluded like every other top-k here."""
    from pyspark.sql import Window

    codes, lut = _pq_parts(spark)
    adc = (
        codes.join(F.broadcast(lut), on=["m", "k"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("corpus_id"))
        .agg(F.sum("ld2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("corpus_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def oracle_pq_topk() -> str:
    q = (
        "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * "
        f"{KMEANS_SCALE}) / {KMEANS_SCALE}.0)"
    )
    sd = (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUB}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    return f"""
WITH scaled AS MATERIALIZED (SELECT vec_id, {q} AS v FROM embeddings),
subs AS MATERIALIZED (
  SELECT vec_id, t.m, v[t.m * {PQ_SUB} + 1 : t.m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM scaled, UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
),
cb AS MATERIALIZED (
  SELECT m, CAST(vec_id - {N_QUERIES} AS INT) AS k, sv AS cb
  FROM subs WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
),
scored AS (
  SELECT s.vec_id, s.m, c.k, {sd.format(a='s.sv', b='c.cb')} AS d2
  FROM subs s JOIN cb c USING (m)
),
codes AS MATERIALIZED (
  SELECT vec_id, m, k FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, k ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
lut AS MATERIALIZED (
  SELECT s.vec_id AS query_id, s.m, c.k, {sd.format(a='s.sv', b='c.cb')} AS ld2
  FROM subs s JOIN cb c USING (m)
  WHERE s.vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, co.vec_id AS corpus_id, SUM(l.ld2) AS adc_d2
  FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
  WHERE co.vec_id <> l.query_id
  GROUP BY l.query_id, co.vec_id
)
SELECT query_id, corpus_id, adc_d2,
  CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_d2 ASC, corpus_id ASC) AS INT) AS rank
FROM adc
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# E49 — embedding-space decontamination: flag every corpus vector whose
# cosine to ANY eval-set vector clears a threshold (the semantic
# complement of the n-gram decontamination in curation.py — catches
# paraphrased benchmark leakage that exact 8-grams miss). The eval set
# plays the same role as E11's benchmark split: vec_id < N_QUERIES.
#
# Scale: the eval side is tiny and BROADCAST (benchmarks are thousands of
# rows against a 100 TB corpus) — the corpus side streams map-side through
# the broadcast join and folds per-doc with a combinable MAX/argmax; no
# shuffle carries vectors.
# ---------------------------------------------------------------------------

DECON_COSINE_THRESHOLD = 0.9


def embedding_decontaminate(
    spark: SparkSession, threshold: float = DECON_COSINE_THRESHOLD
) -> DataFrame:
    emb = spark.table("embeddings")
    evalset = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ev")
    )
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    cosine = _fold_dot(F.col("cv"), F.col("ev")) / (
        _norm(F.col("cv")) * _norm(F.col("ev"))
    )
    scored = corpus.crossJoin(F.broadcast(evalset)).select(
        "corpus_id", "eval_id", cosine.alias("cosine")
    )
    from pyspark.sql import Window

    # argmax via row_number with an explicit (cosine desc, eval_id asc)
    # total order — engine-portable, unlike max_by composite tie-breaks
    w = Window.partitionBy("corpus_id").orderBy(
        F.desc("cosine"), F.asc("eval_id")
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            "corpus_id",
            F.col("eval_id").alias("nearest_eval_id"),
            F.col("cosine").alias("max_eval_cosine"),
            (F.col("cosine") >= threshold).alias("contaminated"),
        )
        .orderBy("corpus_id")
    )


def oracle_embedding_decontaminate(
    threshold: float = DECON_COSINE_THRESHOLD,
) -> str:
    dot = _sql_dot("c.embedding", "e.embedding")
    cc = _sql_dot("c.embedding", "c.embedding")
    ee = _sql_dot("e.embedding", "e.embedding")
    return f"""
WITH scored AS (
  SELECT c.vec_id AS corpus_id, e.vec_id AS eval_id,
         ({dot}) / (sqrt({cc}) * sqrt({ee})) AS cosine
  FROM embeddings c, embeddings e
  WHERE c.vec_id >= {N_QUERIES} AND e.vec_id < {N_QUERIES}
),
per_doc AS (
  SELECT corpus_id, eval_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY corpus_id
                       ORDER BY cosine DESC, eval_id ASC) AS rn
  FROM scored
)
SELECT corpus_id, eval_id AS nearest_eval_id, cosine AS max_eval_cosine,
  cosine >= {threshold} AS contaminated
FROM per_doc WHERE rn = 1
ORDER BY corpus_id
"""


# ---------------------------------------------------------------------------
# E56 — k-means cluster purity: per-cluster label agreement of the trained
# Lloyd assignment against the embeddings' ground-truth labels (majority
# label, its share of the cluster). The standard external evaluation of a
# clustering used for topic bucketing / diversity sampling — the
# measurement that says whether the k-means clusters are usable as topic
# strata before mixing decisions ride on them. Integer counts; purity is
# one exact int/int division.
#
# Scale: rides the k-means assignment (broadcast centroids, combinable
# aggregates); the label join is a plain vec_id equi-join and the
# per-cluster windows partition on cluster id (K partitions, bounded).
# ---------------------------------------------------------------------------


def kmeans_purity(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    _, cent, assign = _kmeans_train(spark)
    final = assign(cent, 1).select("vec_id", "cid")
    labeled = final.join(
        spark.table("embeddings").select("vec_id", "label"), "vec_id"
    )
    counts = labeled.groupBy("cid", "label").agg(
        F.count("*").cast("long").alias("n")
    )
    top = (
        counts.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(F.desc("n"), F.asc("label"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cid", F.col("label").alias("majority_label"), F.col("n").alias("majority_count"))
    )
    sizes = counts.groupBy("cid").agg(
        F.sum("n").cast("long").alias("cluster_size")
    )
    return (
        top.join(sizes, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "cluster_size",
            "majority_label",
            "majority_count",
            (
                F.col("majority_count").cast("double")
                / F.col("cluster_size").cast("double")
            ).alias("purity"),
        )
        .orderBy("cluster_id")
    )


def oracle_kmeans_purity() -> str:
    parts, _ = _oracle_kmeans_parts()
    parts.append(
        "labeled AS (SELECT a.cid, e.label FROM afinal a "
        "JOIN embeddings e USING (vec_id))"
    )
    parts.append(
        "counts AS (SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM labeled GROUP BY cid, label)"
    )
    parts.append(
        "top AS (SELECT cid, label AS majority_label, n AS majority_count, "
        "row_number() OVER (PARTITION BY cid ORDER BY n DESC, label ASC) AS rn "
        "FROM counts)"
    )
    parts.append(
        "sizes AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS cluster_size "
        "FROM counts GROUP BY cid)"
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT t.cid AS cluster_id, s.cluster_size, t.majority_label,
  t.majority_count,
  CAST(t.majority_count AS DOUBLE) / CAST(s.cluster_size AS DOUBLE) AS purity
FROM top t JOIN sizes s USING (cid)
WHERE t.rn = 1
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# E67 — SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication", 2023): k-means the embedding
# space, then deduplicate WITHIN each cluster by pairwise cosine — pairs
# of cluster-mates above the threshold are semantic duplicates even when
# their texts share no n-grams (paraphrases, translations, re-renders),
# the duplication class lexical MinHash/LSH cannot see. Greedy keep rule:
# a vector is dropped iff some LOWER vec_id cluster-mate is within the
# threshold (deterministic, one pass; the paper's keep-farthest-from-
# centroid variant is the same plan with a different ORDER BY priority).
#
# Threshold: the paper operates at ~0.95+ on real embeddings; the fixture
# embeddings are near-orthogonal random vectors (see NEARDUP_THRESHOLD
# note), so registration uses the data-calibrated verify threshold to
# exercise the pair path — same convention as ml_embedding_neardup.
#
# Scale: the quadratic pair expansion is confined to cluster-mates — the
# paper's own design lever: K grows with the corpus so the expected
# cluster size stays bounded, and the k-means assignment itself is one
# broadcast-K cross join + argmin (see kmeans_assign). The within-cluster
# self-join shuffles each vector once on cluster_id; no all-pairs join
# exists at any scale.
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = VERIFY_NEARDUP_THRESHOLD


def semdedup(
    spark: SparkSession, threshold: float = SEMDEDUP_THRESHOLD
) -> DataFrame:
    emb_raw = spark.table("embeddings").select("vec_id", "embedding")
    _, cent, assign = _kmeans_train(spark)
    asg = assign(cent, 1).select("vec_id", "cid")
    m = asg.join(emb_raw, "vec_id")
    left = m.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), "cid"
    )
    right = m.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), "cid"
    )
    cosine = _fold_dot(F.col("va"), F.col("vb")) / (
        _norm(F.col("va")) * _norm(F.col("vb"))
    )
    pairs = (
        left.join(right, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    matches = pairs.groupBy("vec_b").agg(
        F.min("vec_a").alias("dup_of"),
        F.count("*").cast("long").alias("n_dups_lower"),
    )
    return (
        asg.join(matches, asg.vec_id == matches.vec_b, "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            F.coalesce(F.col("n_dups_lower"), F.lit(0)).cast("long").alias(
                "n_dups_lower"
            ),
        )
        .orderBy("vec_id")
    )


def oracle_semdedup(threshold: float = SEMDEDUP_THRESHOLD) -> str:
    parts, _ = _oracle_kmeans_parts()
    dot = _sql_dot("ea.embedding", "eb.embedding")
    aa = _sql_dot("ea.embedding", "ea.embedding")
    bb = _sql_dot("eb.embedding", "eb.embedding")
    parts.append(
        f"""pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    ({dot}) / (sqrt({aa}) * sqrt({bb})) AS cos
  FROM afinal a
  JOIN afinal b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
)"""
    )
    parts.append(
        f"""matches AS (
  SELECT vec_b AS vec_id, MIN(vec_a) AS dup_of,
    CAST(COUNT(*) AS BIGINT) AS n_dups_lower
  FROM pairs WHERE cos >= {threshold} GROUP BY vec_b
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT f.vec_id, f.cid AS cluster_id,
  m.dup_of IS NULL AS keep, m.dup_of,
  CAST(COALESCE(m.n_dups_lower, 0) AS BIGINT) AS n_dups_lower
FROM afinal f LEFT JOIN matches m USING (vec_id)
ORDER BY f.vec_id
"""


# ---------------------------------------------------------------------------
# E70 — IVF + SQ8 asymmetric scoring with exact rerank: the memory-bound
# production ANN shape (FAISS IndexIVFScalarQuantizer). The corpus is
# stored as per-vector symmetric int8 codes (E38's quantizer: scale =
# 127/max_abs, floor, clamp); a query probes IVF_PROBES lists and scores
# their members ASYMMETRICALLY — full-precision query against dequantized
# codes (ADC) — then the top SQ8_RERANK_R candidates are reranked with
# exact cosine on the raw vectors. Ranking quality sits between PQ and
# exact IVF; memory/bandwidth is 4x float32.
#
# Scale: the int8 code table is the only relation scanned per probe (4x
# less I/O than raw vectors); the rerank join touches SQ8_RERANK_R raw
# vectors per query — a targeted lookup, not a second scan. All
# quantize/dequantize arithmetic is the exactly-rounded IEEE sequence E38
# proved cross-engine (floor/clamp on doubles, one division), so the ADC
# ordering — and therefore the candidate set handed to rerank — is
# engine-identical.
# ---------------------------------------------------------------------------

SQ8_RERANK_R = 2 * TOP_K


def ivf_sq8_topk(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    emb = spark.table("embeddings")
    centroids = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        (F.col("vec_id") - N_QUERIES).cast("int").alias("centroid_id"),
        F.col("embedding").alias("centv"),
    )

    def nearest(df, vec_col, keep, n):
        scored = df.crossJoin(F.broadcast(centroids)).select(
            *keep,
            "centroid_id",
            (
                _fold_dot(F.col(vec_col), F.col("centv"))
                / (_norm(F.col(vec_col)) * _norm(F.col("centv")))
            ).alias("cent_cos"),
        )
        w = Window.partitionBy(keep[0]).orderBy(
            F.desc("cent_cos"), F.asc("centroid_id")
        )
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n)
            .drop("__r", "cent_cos")
        )

    # the stored index: per-vector int8 codes + scale (E38's quantizer)
    xs = F.transform(F.col("cv"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(xs, lambda x: F.abs(x)))
    scale = F.lit(127.0) / max_abs
    codes = F.transform(
        xs,
        lambda x: F.least(
            F.greatest(F.floor(x * scale), F.lit(-127.0)), F.lit(127.0)
        ).cast("int"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    corpus_lists = (
        nearest(corpus, "cv", ["corpus_id", "cv"], 1)
        .filter(max_abs > 0)
        .select(
            "corpus_id",
            "centroid_id",
            scale.alias("scale"),
            codes.alias("codes"),
        )
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes = nearest(queries, "qv", ["query_id", "qv"], IVF_PROBES)

    dq = F.transform(F.col("codes"), lambda c: c.cast("double") / F.col("scale"))
    # no distinct (r12 optimization): every corpus vector sits in EXACTLY
    # one inverted list (nearest(..., 1) keeps row_number = 1) and probe
    # rows are distinct (query_id, centroid_id), so the probe join yields
    # at most one row per (query_id, corpus_id) — the former .distinct()
    # was a no-op that shuffled the widest intermediate (qv arrays +
    # adc_cos) once more
    cand = (
        corpus_lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select(
            "query_id",
            "corpus_id",
            "qv",
            (
                _fold_dot(F.col("qv"), dq)
                / (_norm(F.col("qv")) * _norm(dq))
            ).alias("adc_cos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cos"), F.asc("corpus_id")
    )
    shortlist = (
        cand.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= SQ8_RERANK_R)
        .select("query_id", "corpus_id", "qv", "adc_cos")
    )
    exact = shortlist.join(corpus, "corpus_id").select(
        "query_id",
        "corpus_id",
        "adc_cos",
        (
            _fold_dot(F.col("qv"), F.col("cv"))
            / (_norm(F.col("qv")) * _norm(F.col("cv")))
        ).alias("cosine"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "corpus_id", "adc_cos", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def oracle_ivf_sq8_topk() -> str:
    dotc = _sql_dot("x.embedding", "c.embedding")
    xx = _sql_dot("x.embedding", "x.embedding")
    cc2 = _sql_dot("c.embedding", "c.embedding")
    adc_dot = _sql_dot("q.qv", "co.dq")
    qq = _sql_dot("q.qv", "q.qv")
    dqdq = _sql_dot("co.dq", "co.dq")
    ex_dot = _sql_dot("s.qv", "e.embedding")
    sqq = _sql_dot("s.qv", "s.qv")
    ee = _sql_dot("e.embedding", "e.embedding")
    return f"""
WITH centroids AS (
  SELECT CAST(vec_id - {N_QUERIES} AS INT) AS centroid_id, embedding
  FROM embeddings WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
corpus_scored AS (
  SELECT x.vec_id AS corpus_id, x.embedding AS cv, c.centroid_id,
    ({dotc}) / (sqrt({xx}) * sqrt({cc2})) AS cent_cos
  FROM embeddings x CROSS JOIN centroids c
),
corpus_lists0 AS (
  SELECT corpus_id, cv, centroid_id FROM corpus_scored
  QUALIFY row_number() OVER (PARTITION BY corpus_id ORDER BY cent_cos DESC, centroid_id) <= 1
),
corpus_lists AS (
  SELECT corpus_id, centroid_id,
    127.0 / list_max(list_transform(cv, x -> abs(CAST(x AS DOUBLE)))) AS scale,
    list_transform(cv, x -> CAST(LEAST(GREATEST(FLOOR(CAST(x AS DOUBLE)
      * (127.0 / list_max(list_transform(cv, y -> abs(CAST(y AS DOUBLE)))))),
      -127.0), 127.0) AS INT)) AS codes
  FROM corpus_lists0
  WHERE list_max(list_transform(cv, x -> abs(CAST(x AS DOUBLE)))) > 0
),
query_scored AS (
  SELECT x.vec_id AS query_id, x.embedding AS qv, c.centroid_id,
    ({dotc}) / (sqrt({xx}) * sqrt({cc2})) AS cent_cos
  FROM embeddings x CROSS JOIN centroids c
  WHERE x.vec_id < {N_QUERIES}
),
query_probes AS (
  SELECT query_id, qv, centroid_id FROM query_scored
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cent_cos DESC, centroid_id) <= {IVF_PROBES}
),
cand AS (
  SELECT DISTINCT q.query_id, co.corpus_id, q.qv,
    ({adc_dot}) / (sqrt({qq}) * sqrt({dqdq})) AS adc_cos
  FROM (
    SELECT corpus_id, centroid_id,
      list_transform(codes, c -> CAST(c AS DOUBLE) / scale) AS dq
    FROM corpus_lists
  ) co
  JOIN query_probes q USING (centroid_id)
  WHERE q.query_id <> co.corpus_id
),
shortlist AS (
  SELECT query_id, corpus_id, qv, adc_cos FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, corpus_id) <= {SQ8_RERANK_R}
),
exact AS (
  SELECT s.query_id, s.corpus_id, s.adc_cos,
    ({ex_dot}) / (sqrt({sqq}) * sqrt({ee})) AS cosine
  FROM shortlist s JOIN embeddings e ON e.vec_id = s.corpus_id
)
SELECT query_id, corpus_id, adc_cos, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM exact
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# E74 — embedding outlier / mislabel screen: every corpus vector scored by
# cosine against its OWN label centroid and its best OTHER label centroid.
# margin = cos_own - cos_best_other; a negative margin means another
# label's centroid explains the vector better — the classic cleanlab-style
# label-noise candidate, and the embedding-space analogue of the quality
# screens the text side runs. One row per vector keeps the operator
# audit-shaped (filter on is_mislabel_candidate downstream).
#
# Determinism: centroid components are per-dim SUMs of 2^-20-quantized
# values (exact in doubles at any aggregation order — the KMEANS_SCALE
# property) divided once by n; cosines fold products in index order on
# both engines. Scale: centroids are one combinable groupBy (L labels ->
# L*DIM sums); scoring is a broadcast cross join with L rows — map-only
# over the corpus, no vector shuffle.
# ---------------------------------------------------------------------------


def embedding_outliers(spark: SparkSession) -> DataFrame:
    emb = spark.table("embeddings").select(
        "vec_id", "label", _quantize(F.col("embedding")).alias("v")
    )
    cents = (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("v", d)).alias(f"s{d}") for d in range(1, _DIM + 1)],
        )
        .select(
            F.col("label").alias("clabel"),
            F.array(*[F.col(f"s{d}") / F.col("n") for d in range(1, _DIM + 1)]).alias(
                "c"
            ),
        )
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "clabel",
        (
            _fold_dot(F.col("v"), F.col("c")) / (_norm(F.col("v")) * _norm(F.col("c")))
        ).alias("cos"),
    )
    # one pass, no self-join: the own-label cosine and the best other-label
    # cosine reduce in a single groupBy(vec_id); the other-label argmax is
    # a struct MIN on (-cos, clabel) — ties on cos break to the lower
    # label, and MIN ignores the NULL the own-label row contributes
    own = F.col("label") == F.col("clabel")
    best = F.min(
        F.when(
            ~own,
            F.struct(
                (-F.col("cos")).alias("neg_cos"),
                F.col("clabel").alias("clabel"),
                F.col("cos").alias("cos"),
            ),
        )
    )
    return (
        scored.groupBy("vec_id", "label")
        .agg(
            F.max(F.when(own, F.col("cos"))).alias("cos_own"),
            best.alias("best"),
        )
        .select(
            "vec_id",
            "label",
            "cos_own",
            F.col("best.clabel").alias("best_other_label"),
            F.col("best.cos").alias("cos_best_other"),
            (F.col("cos_own") - F.col("best.cos")).alias("margin"),
            (F.col("cos_own") < F.col("best.cos")).alias("is_mislabel_candidate"),
        )
        .orderBy("vec_id")
    )


def oracle_embedding_outliers() -> str:
    dims = range(1, _DIM + 1)
    q = (
        "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * "
        f"{KMEANS_SCALE}) / {KMEANS_SCALE}.0)"
    )
    sums = ", ".join(f"SUM(v[{d}]) AS s{d}" for d in dims)
    mean_list = ", ".join(f"s{d} / n" for d in dims)
    dot_vc = " + ".join(f"e.v[{d}] * c.c[{d}]" for d in dims)
    vv = " + ".join(f"e.v[{d}] * e.v[{d}]" for d in dims)
    cc = " + ".join(f"c.c[{d}] * c.c[{d}]" for d in dims)
    return f"""
WITH scaled AS MATERIALIZED (SELECT vec_id, label, {q} AS v FROM embeddings),
cent_sums AS (SELECT label, COUNT(*) AS n, {sums} FROM scaled GROUP BY label),
cents AS MATERIALIZED (SELECT label AS clabel, [{mean_list}] AS c FROM cent_sums),
scored AS MATERIALIZED (
  SELECT e.vec_id, e.label, c.clabel,
    ({dot_vc}) / (sqrt({vv}) * sqrt({cc})) AS cos
  FROM scaled e CROSS JOIN cents c
),
own AS (SELECT vec_id, label, cos AS cos_own FROM scored WHERE label = clabel),
other AS (
  SELECT vec_id, clabel AS best_other_label, cos AS cos_best_other
  FROM scored WHERE label <> clabel
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) = 1
)
SELECT o.vec_id, o.label, o.cos_own, t.best_other_label, t.cos_best_other,
  o.cos_own - t.cos_best_other AS margin,
  o.cos_own < t.cos_best_other AS is_mislabel_candidate
FROM own o JOIN other t USING (vec_id)
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# E75 — IVF-PQ with residual encoding (FAISS IndexIVFPQ, by_residual):
# corpus vectors assign to IVF lists; what PQ encodes is the RESIDUAL
# v - centroid(list) — residuals concentrate near the origin, so a shared
# codebook spends its K entries on the part of the geometry the list has
# not already explained. A query probes IVF_PROBES lists, builds one
# (M x K) LUT of subspace distances per probed list from ITS residual
# against the shared codebook, ADC-sums the stored codes against the LUT,
# and the top RERANK_R shortlist is reranked with exact cosine — the
# composition every billion-vector deployment runs (PQ shortlist, exact
# or SQ8 rerank).
#
# Determinism: vectors and centroids live on the 2^-20 grid, so residuals
# are exact, per-subspace squared distances are exact multiples of 2^-40
# (<= 48 significant bits through every fold), and the ADC sum over M
# subspaces is order-free — both engines rank identical doubles.
#
# Scale: the stored index per corpus vector is M int8 codes + a list id
# (the raw-vector relation is touched only by the RERANK_R-row lookup);
# LUTs are (queries x probes x M x K) rows — broadcast; the ADC join is
# list-id + code equality against the broadcast LUT, map-only over the
# code table, folded by a combinable per-(query, corpus) SUM.
# ---------------------------------------------------------------------------

IVFPQ_RERANK_R = 2 * TOP_K


def _residual(v: Column, c: Column) -> Column:
    return F.zip_with(v, c, lambda x, y: x - y)


def ivf_pq_topk(spark: SparkSession) -> DataFrame:
    from pyspark.sql import Window

    emb = spark.table("embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("v")
    )
    centroids = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        (F.col("vec_id") - N_QUERIES).cast("int").alias("centroid_id"),
        F.col("v").alias("centv"),
    )

    def nearest(df, vec_col, keep, n):
        scored = df.crossJoin(F.broadcast(centroids)).select(
            *keep,
            "centroid_id",
            "centv",
            (
                _fold_dot(F.col(vec_col), F.col("centv"))
                / (_norm(F.col(vec_col)) * _norm(F.col("centv")))
            ).alias("cent_cos"),
        )
        w = Window.partitionBy(keep[0]).orderBy(F.desc("cent_cos"), F.asc("centroid_id"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n)
            .drop("__r", "cent_cos")
        )

    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    sub_r = F.expr(f"slice(r, m * {PQ_SUB} + 1, {PQ_SUB})")

    # shared residual codebook: the PQ_K designated vectors' residuals
    # w.r.t. their own assigned list
    cb_src = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
    )
    cb = (
        nearest(cb_src, "v", ["vec_id", "v"], 1)
        .select(
            (F.col("vec_id") - N_QUERIES).cast("int").alias("k"),
            _residual(F.col("v"), F.col("centv")).alias("r"),
        )
        .select("k", ms, "r")
        .select("m", "k", sub_r.alias("cb"))
    )

    # stored index: per corpus vector, its list id + M codes
    corpus_assigned = nearest(
        emb.select(F.col("vec_id").alias("corpus_id"), "v"), "v", ["corpus_id", "v"], 1
    ).select(
        "corpus_id", "centroid_id", _residual(F.col("v"), F.col("centv")).alias("r")
    )
    corpus_sub = corpus_assigned.select("corpus_id", "centroid_id", ms, "r").select(
        "corpus_id", "centroid_id", "m", sub_r.alias("sv")
    )
    wc = Window.partitionBy("corpus_id", "m").orderBy(F.asc("d2"), F.asc("k"))
    codes = (
        corpus_sub.join(F.broadcast(cb), "m")
        .select(
            "corpus_id",
            "centroid_id",
            "m",
            "k",
            _sqdist(F.col("sv"), F.col("cb")).alias("d2"),
        )
        .withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") == 1)
        .select("corpus_id", "centroid_id", "m", "k")
    )

    # query side: IVF_PROBES lists, one LUT per probed list from the
    # query's residual against that list's centroid
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probes = nearest(queries, "qv", ["query_id", "qv"], IVF_PROBES).select(
        "query_id", "qv", "centroid_id", _residual(F.col("qv"), F.col("centv")).alias("r")
    )
    lut = (
        probes.select("query_id", "centroid_id", ms, "r")
        .select("query_id", "centroid_id", "m", sub_r.alias("qs"))
        .join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "centroid_id",
            "m",
            "k",
            _sqdist(F.col("qs"), F.col("cb")).alias("ld2"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["centroid_id", "m", "k"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .groupBy("query_id", "corpus_id")
        .agg(F.sum("ld2").alias("adc_d2"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("corpus_id"))
    shortlist = (
        adc.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= IVFPQ_RERANK_R)
        .select("query_id", "corpus_id", "adc_d2")
    )
    corpus_raw = emb.select(F.col("vec_id").alias("corpus_id"), F.col("v").alias("cv"))
    exact = (
        shortlist.join(queries, "query_id")
        .join(corpus_raw, "corpus_id")
        .select(
            "query_id",
            "corpus_id",
            "adc_d2",
            (
                _fold_dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv")))
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        exact.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def oracle_ivf_pq_topk() -> str:
    q = (
        "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * "
        f"{KMEANS_SCALE}) / {KMEANS_SCALE}.0)"
    )
    dotc = _sql_dot("x.v", "c.centv")
    xx = _sql_dot("x.v", "x.v")
    cc2 = _sql_dot("c.centv", "c.centv")
    sd = (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUB}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    ex_dot = _sql_dot("qr.qv", "cr.cv")
    qq = _sql_dot("qr.qv", "qr.qv")
    cv = _sql_dot("cr.cv", "cr.cv")
    return f"""
WITH scaled AS MATERIALIZED (SELECT vec_id, {q} AS v FROM embeddings),
centroids AS MATERIALIZED (
  SELECT CAST(vec_id - {N_QUERIES} AS INT) AS centroid_id, v AS centv
  FROM scaled WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
assigned AS MATERIALIZED (
  SELECT vec_id, v, centroid_id, centv,
    list_transform(generate_series(1, {_DIM}), i -> v[i] - centv[i]) AS r
  FROM (
    SELECT x.vec_id, x.v, c.centroid_id, c.centv,
      row_number() OVER (PARTITION BY x.vec_id
        ORDER BY ({dotc}) / (sqrt({xx}) * sqrt({cc2})) DESC, c.centroid_id ASC) AS rn
    FROM scaled x CROSS JOIN centroids c
  ) WHERE rn = 1
),
cb AS MATERIALIZED (
  SELECT t.m, CAST(a.vec_id - {N_QUERIES} AS INT) AS k,
    a.r[t.m * {PQ_SUB} + 1 : t.m * {PQ_SUB} + {PQ_SUB}] AS cb
  FROM assigned a, UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
  WHERE a.vec_id >= {N_QUERIES} AND a.vec_id < {N_QUERIES + PQ_K}
),
corpus_sub AS (
  SELECT a.vec_id AS corpus_id, a.centroid_id, t.m,
    a.r[t.m * {PQ_SUB} + 1 : t.m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM assigned a, UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
),
codes AS MATERIALIZED (
  SELECT corpus_id, centroid_id, m, k FROM (
    SELECT s.corpus_id, s.centroid_id, s.m, c.k,
      row_number() OVER (PARTITION BY s.corpus_id, s.m
        ORDER BY {sd.format(a='s.sv', b='c.cb')} ASC, c.k ASC) AS rn
    FROM corpus_sub s JOIN cb c USING (m)
  ) WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT vec_id AS query_id, v AS qv, centroid_id,
    list_transform(generate_series(1, {_DIM}), i -> v[i] - centv[i]) AS r
  FROM (
    SELECT x.vec_id, x.v, c.centroid_id, c.centv,
      row_number() OVER (PARTITION BY x.vec_id
        ORDER BY ({dotc}) / (sqrt({xx}) * sqrt({cc2})) DESC, c.centroid_id ASC) AS rn
    FROM scaled x CROSS JOIN centroids c
    WHERE x.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_PROBES}
),
lut AS MATERIALIZED (
  SELECT p.query_id, p.centroid_id, t.m, c.k,
    {sd.format(a="(p.r[t.m * " + str(PQ_SUB) + " + 1 : t.m * " + str(PQ_SUB) + " + " + str(PQ_SUB) + "])", b='c.cb')} AS ld2
  FROM probes p, UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
  JOIN cb c ON c.m = t.m
),
adc AS (
  SELECT l.query_id, co.corpus_id, SUM(l.ld2) AS adc_d2
  FROM codes co
  JOIN lut l ON l.centroid_id = co.centroid_id AND l.m = co.m AND l.k = co.k
  WHERE l.query_id <> co.corpus_id
  GROUP BY l.query_id, co.corpus_id
),
shortlist AS (
  SELECT query_id, corpus_id, adc_d2 FROM adc
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, corpus_id ASC) <= {IVFPQ_RERANK_R}
),
exact AS (
  SELECT s.query_id, s.corpus_id, s.adc_d2,
    ({ex_dot}) / (sqrt({qq}) * sqrt({cv})) AS cosine
  FROM shortlist s
  JOIN (SELECT vec_id AS query_id, v AS qv FROM scaled) qr USING (query_id)
  JOIN (SELECT vec_id AS corpus_id, v AS cv FROM scaled) cr USING (corpus_id)
)
SELECT query_id, corpus_id, adc_d2, cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank
FROM exact
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# E102 — k-NN label vote: the classification-eval view of the ANN surface.
# A bounded probe set (vec_id < KNN_PROBES) is scored against the rest of
# the corpus exactly like brute_force_topk (broadcast probes, corpus stays
# distributed), the top KNN_K neighbors by (cosine DESC, corpus_id) vote
# with their labels, and the majority label (ties -> smaller label) is
# compared to the probe's true label. This is the standard embedding-
# quality probe run before trusting a space for SemDeDup / clustering:
# if k-NN can't recover labels, cosine near-dup thresholds mean little.
#
# Scale: identical join shape to brute_force_topk — the ONLY data-scaled
# relation is the corpus side of the broadcast join; votes and argmax act
# on |probes| x K rows. Float determinism: the cosine is the same
# sequential fold both engines share (module header contract).
# ---------------------------------------------------------------------------

KNN_PROBES = 24
KNN_K = 10


def knn_label_vote(spark: SparkSession) -> DataFrame:
    emb = spark.table("embeddings")
    probes = emb.filter(F.col("vec_id") < KNN_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
    )
    corpus = emb.filter(F.col("vec_id") >= KNN_PROBES).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("cv"),
    )
    cosine = (
        _fold_dot(F.col("qv"), F.col("cv"))
        / (_norm(F.col("qv")) * _norm(F.col("cv")))
    ).alias("cosine")
    from pyspark.sql import Window

    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    top = (
        corpus.crossJoin(F.broadcast(probes))
        .select("query_id", "true_label", "corpus_id", "n_label", cosine)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= KNN_K)
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("pred_label"))
    return (
        top.groupBy("query_id", "true_label", F.col("n_label").alias("pred_label"))
        .agg(F.count("*").cast("long").alias("votes"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            "pred_label",
            "votes",
            (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
        )
        .orderBy("query_id")
    )


def oracle_knn_label_vote() -> str:
    dot = _sql_dot("q.embedding", "c.embedding")
    qq = _sql_dot("q.embedding", "q.embedding")
    cc = _sql_dot("c.embedding", "c.embedding")
    return f"""
WITH top AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS corpus_id, c.label AS n_label,
         ({dot}) / (sqrt({qq}) * sqrt({cc})) AS cosine
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_PROBES} AND c.vec_id >= {KNN_PROBES}
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id ORDER BY cosine DESC, c.vec_id
  ) <= {KNN_K}
),
votes AS (
  SELECT query_id, true_label, n_label AS pred_label,
         CAST(COUNT(*) AS BIGINT) AS votes
  FROM top GROUP BY query_id, true_label, n_label
)
SELECT query_id, true_label, pred_label, votes,
       CAST(pred_label = true_label AS INT) AS correct
FROM votes
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY votes DESC, pred_label ASC
) = 1
ORDER BY query_id
"""
