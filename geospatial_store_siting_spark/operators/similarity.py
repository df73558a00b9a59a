"""Similarity search over the ``embeddings`` table (array<float> column).

- brute-force cosine top-k  : the exactness baseline — query rows ×
  broadcast corpus, portable element-wise dot product, row_number top-k
- LSH-bucketed ANN          : deterministic random-hyperplane signatures
  (closed-form integer planes, so the oracle reproduces them), bucket
  equi-join for candidates, exact re-rank inside buckets

Scale design: brute force is O(|Q|·|C|) — viable only because |Q| is a
sampled query set; the production path is the LSH variant whose cost is
bucket-local.  The corpus side is broadcast when dim-scale, shuffled on
bucket otherwise.  The dot product stays JVM-side via F.aggregate/zip_with
(no Python); float32 inputs are cast to float64 before accumulating so
both engines sum in double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exprs import dround
from . import plan_choice

DIM = 64
QUERY_MOD = 25  # vec_id % QUERY_MOD == 0 → query set (sampled)
N_PLANES = 8
PLANE_MULT = 2654435761
PLANE_MOD = 2001


def _plane_coef(j: int, i: int) -> int:
    """Deterministic pseudo-random hyperplane coefficient in [-1000, 1000]."""
    return ((j * 131 + i * 31 + 17) * PLANE_MULT) % PLANE_MOD - 1000


def _dot_cols(a: str, b: str):
    """Σ a[i]·b[i] in float64 via zip_with + aggregate (JVM-side fold —
    deterministic left-to-right order, mirrored exactly in the oracle)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_col(a: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _dot_sql(a: str, b: str) -> str:
    """Oracle-side fold with identical order: list_reduce over the zipped
    products would differ per engine — instead an explicit unrolled sum
    i=1..DIM (addition order = index order, same as the Spark fold)."""
    terms = " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, DIM + 1)
    )
    return f"({terms})"


def _norm_sql(a: str) -> str:
    terms = " + ".join(f"(CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE))" for i in range(1, DIM + 1))
    return f"SQRT({terms})"


def brute_force_topk(spark: SparkSession, k: int = 5) -> DataFrame:
    """Exact cosine top-k for the sampled query set against the corpus."""
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("c_emb"))
    pairs = queries.crossJoin(F.broadcast(corpus)).filter(
        F.col("query_id") != F.col("corpus_id")
    )
    cos = _dot_cols("q_emb", "c_emb") / (_norm_col("q_emb") * _norm_col("c_emb"))
    scored = pairs.select("query_id", "corpus_id", dround(cos, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def brute_force_topk_oracle_sql(k: int = 5) -> str:
    cos = f"({_dot_sql('q.embedding', 'c.embedding')}) / ({_norm_sql('q.embedding')} * {_norm_sql('c.embedding')})"
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         (FLOOR(({cos}) * 1000000.0 + 0.5) / 1000000.0) AS cosine
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id % {QUERY_MOD} = 0 AND q.vec_id <> c.vec_id
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT query_id, corpus_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
) __r WHERE rank <= {k}"""


def lsh_buckets(spark: SparkSession) -> DataFrame:
    """Sign-random-projection bucket id per vector (deterministic integer
    planes → identical buckets in any engine)."""
    emb = spark.table("embeddings")
    bucket = F.lit(0).cast("long")
    for j in range(N_PLANES):
        coefs = F.array(*[F.lit(float(_plane_coef(j, i))) for i in range(DIM)])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), coefs, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(2 ** j)).otherwise(F.lit(0)).cast("long")
    return emb.select("vec_id", "label", bucket.alias("bucket"))


def _bucket_sql(vec: str) -> str:
    parts = []
    for j in range(N_PLANES):
        terms = " + ".join(
            f"(CAST({vec}[{i + 1}] AS DOUBLE) * {float(_plane_coef(j, i))})" for i in range(DIM)
        )
        parts.append(f"CASE WHEN ({terms}) > 0 THEN {2 ** j} ELSE 0 END")
    return "(" + " + ".join(parts) + ")"


def lsh_buckets_oracle_sql() -> str:
    return f"""
SELECT vec_id, label, CAST({_bucket_sql('embedding')} AS BIGINT) AS bucket
FROM embeddings"""


def ann_topk(spark: SparkSession, k: int = 3) -> DataFrame:
    """ANN: candidates share an LSH bucket; exact cosine re-rank inside the
    bucket (the scale path — bucket-local joins instead of |Q|·|C|).

    Above the corpus-size gate every corpus-derived join side is pinned
    SHUFFLE_HASH (same rationale as operators/plan_choice.scale_hint: a
    stats misestimate that broadcast the bucketed corpus would serialize the
    plan on a driver hash-table build — or OOM it — at embedding-corpus
    scale)."""
    small = plan_choice.small(spark, "embeddings")
    b = lsh_buckets(spark)
    emb = plan_choice.scale_hint(spark.table("embeddings").select("vec_id", "embedding"), small)
    withb = plan_choice.scale_hint(b.join(emb, "vec_id"), small)
    qs = withb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("bucket"), F.col("embedding").alias("q_emb")
    )
    cs = withb.select(
        F.col("vec_id").alias("corpus_id"), F.col("bucket"), F.col("embedding").alias("c_emb")
    )
    pairs = qs.join(cs, "bucket").filter(F.col("query_id") != F.col("corpus_id"))
    cos = _dot_cols("q_emb", "c_emb") / (_norm_col("q_emb") * _norm_col("c_emb"))
    scored = pairs.select("query_id", "corpus_id", dround(cos, 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def ann_topk_oracle_sql(k: int = 3) -> str:
    cos = f"({_dot_sql('q.embedding', 'c.embedding')}) / ({_norm_sql('q.embedding')} * {_norm_sql('c.embedding')})"
    return f"""
WITH b AS ({lsh_buckets_oracle_sql()}),
qs AS (
  SELECT b.vec_id AS query_id, b.bucket, e.embedding
  FROM b JOIN embeddings e ON b.vec_id = e.vec_id WHERE b.vec_id % {QUERY_MOD} = 0
),
cs AS (
  SELECT b.vec_id AS corpus_id, b.bucket, e.embedding
  FROM b JOIN embeddings e ON b.vec_id = e.vec_id
),
scored AS (
  SELECT qs.query_id, cs.corpus_id,
         (FLOOR((({_dot_sql('qs.embedding', 'cs.embedding')}) / ({_norm_sql('qs.embedding')} * {_norm_sql('cs.embedding')})) * 1000000.0 + 0.5) / 1000000.0) AS cosine
  FROM qs JOIN cs ON qs.bucket = cs.bucket
  WHERE qs.query_id <> cs.corpus_id
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT query_id, corpus_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
) __r WHERE rank <= {k}"""


def label_centroid_distances(spark: SparkSession) -> DataFrame:
    """Per-label mean-vector norms — an aggregation-over-arrays operator
    (posexplode + groupBy(label, dim) + re-assemble)."""
    emb = spark.table("embeddings")
    flat = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    per_dim = flat.groupBy("label", "dim").agg(F.avg(F.col("v").cast("double")).alias("mean_v"))
    return (
        per_dim.groupBy("label")
        .agg(dround(F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v"))), 6).alias("centroid_norm"),
             F.count(F.lit(1)).alias("n_dims"))
    )


def label_centroid_distances_oracle_sql() -> str:
    return """
WITH flat AS (
  SELECT label, g.dim, CAST(embedding[g.dim + 1] AS DOUBLE) AS v
  FROM embeddings
  CROSS JOIN (SELECT UNNEST(range(64)) AS dim) g
),
per_dim AS (
  SELECT label, dim, AVG(v) AS mean_v FROM flat GROUP BY label, dim
)
SELECT label,
       (FLOOR(SQRT(SUM(mean_v * mean_v)) * 1000000.0 + 0.5) / 1000000.0) AS centroid_norm,
       COUNT(*) AS n_dims
FROM per_dim GROUP BY label"""


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index): coarse quantizer → probed lists → re-rank
# ---------------------------------------------------------------------------

IVF_K = 16  # coarse centroids
IVF_NPROBE = 2  # lists probed per query


def _ivf_centroids() -> list[list[float]]:
    """Deterministic unit-norm centroids (closed-form, engine-independent —
    real IVF trains them with k-means; correctness of the operator doesn't
    depend on centroid quality, recall does)."""
    import math

    out = []
    for j in range(IVF_K):
        raw = [float(_plane_coef(j + 100, i)) for i in range(DIM)]
        norm = math.sqrt(sum(x * x for x in raw)) or 1.0
        out.append([x / norm for x in raw])
    return out


def _ivf_assignments(spark: SparkSession) -> DataFrame:
    """(vec_id, cid, crank): centroid ranking per vector by dot product
    (descending, cid tiebreak) — rank 1 is the vector's list, ranks ≤
    nprobe are the query's probe set.  The centroid table is a literal
    struct array explode (generator — no join, no shuffle)."""
    cents = _ivf_centroids()
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("cid"),
                F.array(*[F.lit(v) for v in vec]).alias("cvec"),
            )
            for j, vec in enumerate(cents)
        ]
    )
    emb = spark.table("embeddings")
    pairs = emb.select("vec_id", "embedding", F.explode(cent_arr).alias("c"))
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("c.cvec"), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cdot"), F.asc("cid"))
    return (
        pairs.select("vec_id", F.col("c.cid").alias("cid"), dot.alias("cdot"))
        .withColumn("crank", F.row_number().over(w))
    )


def ivf_topk(spark: SparkSession, k: int = 3) -> DataFrame:
    """IVF search: each corpus vector lives in its nearest-centroid list;
    each query probes its IVF_NPROBE nearest lists; exact cosine re-rank
    inside the probed lists.  The candidate join is an equi-join on the
    list id (shuffle on a 16-ary key at this K; production K ~ √N keeps
    lists balanced and the join key high-cardinality)."""
    small = plan_choice.small(spark, "embeddings")
    assign = _ivf_assignments(spark)
    emb = plan_choice.scale_hint(spark.table("embeddings").select("vec_id", "embedding"), small)
    lists = assign.filter(F.col("crank") == 1).select("vec_id", "cid")
    probes = assign.filter(
        (F.col("crank") <= IVF_NPROBE) & (F.col("vec_id") % QUERY_MOD == 0)
    ).select(F.col("vec_id").alias("query_id"), "cid")
    qs = probes.join(
        emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")),
        "query_id",
    )
    cs = plan_choice.scale_hint(
        lists.join(emb, "vec_id").select(
            F.col("vec_id").alias("corpus_id"), "cid", F.col("embedding").alias("c_emb")
        ),
        small,
    )
    pairs = qs.join(cs, "cid").filter(F.col("query_id") != F.col("corpus_id"))
    cos = _dot_cols("q_emb", "c_emb") / (_norm_col("q_emb") * _norm_col("c_emb"))
    scored = pairs.select(
        "query_id", "corpus_id", dround(cos, 6).alias("cosine")
    ).distinct()  # a pair probed via 2 lists appears once
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def ivf_topk_oracle_sql(k: int = 3) -> str:
    cents = _ivf_centroids()
    cent_rows = ", ".join(
        f"({j}, [{', '.join(repr(v) for v in vec)}])" for j, vec in enumerate(cents)
    )
    cdot = " + ".join(
        f"(CAST(e.embedding[{i + 1}] AS DOUBLE) * c.cvec[{i + 1}])" for i in range(DIM)
    )
    cos = f"({_dot_sql('q.q_emb', 'cs.c_emb')}) / ({_norm_sql('q.q_emb')} * {_norm_sql('cs.c_emb')})"
    return f"""
WITH cent AS (SELECT * FROM (VALUES {cent_rows}) AS __c(cid, cvec)),
assign AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ({cdot}) DESC, cid ASC) AS crank
  FROM embeddings e CROSS JOIN cent c
),
lists AS (SELECT vec_id, cid FROM assign WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, cid FROM assign
           WHERE crank <= {IVF_NPROBE} AND vec_id % {QUERY_MOD} = 0),
qs AS (SELECT p.query_id, p.cid, e.embedding AS q_emb
       FROM probes p JOIN embeddings e ON p.query_id = e.vec_id),
cs AS (SELECT l.vec_id AS corpus_id, l.cid, e.embedding AS c_emb
       FROM lists l JOIN embeddings e ON l.vec_id = e.vec_id),
scored AS (
  SELECT DISTINCT q.query_id, cs.corpus_id,
         (FLOOR(({cos}) * 1000000.0 + 0.5) / 1000000.0) AS cosine
  FROM qs q JOIN cs ON q.cid = cs.cid
  WHERE q.query_id <> cs.corpus_id
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT query_id, corpus_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
) __r WHERE rank <= {k}"""
