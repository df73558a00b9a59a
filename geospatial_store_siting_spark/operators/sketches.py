"""Mergeable data sketches: KMV distinct-count, count-min heavy hitters,
and a bloom-filter decontamination prefilter.

At 100 TB the exact forms of these queries are the bottleneck: exact
COUNT(DISTINCT) shuffles every distinct key, exact heavy-hitter counting
shuffles every token, and exact eval-set membership shuffles the corpus
into a semi join.  The sketch forms bound the shuffled state to a few KB
per group (KMV: k hashes), a fixed counter grid (CMS: d×w cells), or a
broadcastable bit array (bloom: m bits) — and all three MERGE, so
per-partition partials combine without re-scanning the data.

Unlike library sketches (HLL, DataSketches), every construction here is
a DETERMINISTIC function of the data — hash positions derive from the
engine's md5 via the portable 48-bit construction the dedup family uses
(operators/dedup._h48_sql) — so each query carries a full DuckDB value
oracle, not a tolerance band.  Spark plans use the value-identical
conv-based fast hash (_h48_fast); oracles keep the portable INSTR chain.

Reference scope: the reference has no sketch operators (its corpus fits
in notebooks); these are beyond-reference LLM-pipeline ops the brief
calls for, sharing the events/documents table contracts.  The exact
columns carried next to each estimate (exact_distinct, exact_count,
n_true_shingles) are VALIDATION columns for the small-SF oracle — at
corpus scale you would run the sketch side alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exprs import dround
from ..functions.hex_sql import round_sql
from .dedup import DF_CAP, _h48_fast, _h48_sql, shingles, shingles_sql

# --- KMV (k minimum values) distinct sketch ---------------------------------
KMV_K = 64
KMV_SEED = "gss-kmv-1"
_U_SCALE_INT = 1 << 48  # h48 range; (k-1)/(kth/2^48) = (k-1)*2^48/kth

# --- count-min sketch --------------------------------------------------------
CMS_D = 4  # hash rows (estimate = min over rows → err shrinks exponentially)
CMS_W = 512  # buckets per row (overcount ~ stream_len / w per row)
CMS_SEED = "gss-cms"
CMS_TOKEN_CAP = 200  # per-doc token bound, same cap as text_ops.token_repetition
HH_MIN = 400  # exact-count floor defining "heavy" at sf0.01 (~1% of stream)

# --- quantile sketch (bottom-k hash sample) ----------------------------------
QSK_K = 256  # per-group sample rows; rel. rank error ~ 1/sqrt(k)
QSK_SEED = "gss-qsk"
QSK_QUANTS = (0.5, 0.9, 0.99)

# --- bloom filter -------------------------------------------------------------
BLOOM_WORDS = 512  # 63 usable bits/word (DuckDB rejects 1<<63) → m = 32 256 bits
BLOOM_BITS = BLOOM_WORDS * 63
BLOOM_K = 3  # hash functions; ~10 bits/element at sf0.01 eval-shingle volume
BLOOM_SEED = "gss-bloom"


# ---------------------------------------------------------------------------
# shared SQL snippets — identical text evaluated by BOTH engines wherever the
# arithmetic is parity-delicate; only the md5→int48 step differs (fast vs
# portable form, value-identical)
# ---------------------------------------------------------------------------


def _kmv_hash(key: str, fast: bool) -> str:
    """Uniform 48-bit hash of a key column under the KMV seed."""
    h = f"md5('{KMV_SEED}|' || CAST({key} AS STRING))"
    return (_h48_fast if fast else _h48_sql)(h)


def _kmv_est_raw(k: int) -> str:
    """The KMV estimator over (n_seen, kth_hash): exact below k distinct
    values, else (k-1)·2^48/kth — the classic bottom-k estimator
    (Bar-Yossef et al. 2002).  Pure CAST/·// double ops, one evaluation
    order, so Spark and DuckDB produce the same float64 bit pattern.
    Rounding happens OUTSIDE this text: Spark's FLOOR(double) yields
    LONG and LONG / 10000.0-literal yields DECIMAL, so the Spark side
    wraps this in dround (which casts back to double) while the oracle
    wraps it in round_sql."""
    return (
        f"CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE) "
        f"ELSE CAST({k - 1} AS DOUBLE) * CAST({_U_SCALE_INT} AS DOUBLE)"
        f" / CAST(kth_hash AS DOUBLE) END"
    )


def _kmv_est_sql(k: int) -> str:
    return round_sql(_kmv_est_raw(k), 4)


def _cms_bucket(seed_col: str, tok: str, fast: bool) -> str:
    """Row-``seed_col`` CMS bucket of a token: h48(md5(seed|s|tok)) % w."""
    h = f"md5('{CMS_SEED}' || CAST({seed_col} AS STRING) || '|' || {tok})"
    return f"(({(_h48_fast if fast else _h48_sql)(h)}) % {CMS_W})"


def _bloom_pos(
    seed_col: str, key: str, fast: bool, bits: int = BLOOM_BITS
) -> str:
    """Bloom bit position for hash-row ``seed_col``: h48 % m."""
    h = f"md5('{BLOOM_SEED}' || CAST({seed_col} AS STRING) || '|' || {key})"
    return f"(({(_h48_fast if fast else _h48_sql)(h)}) % {bits})"


# widx/bit from a bit position: FLOOR over doubles, NOT engine int division
# (DuckDB CAST(a/b AS BIGINT) rounds-half-up; Spark DIV truncates) — the
# double form is exact for pos < 2^48 and identical in both engines.
def _widx_sql(pos: str) -> str:
    return f"CAST(FLOOR(CAST({pos} AS DOUBLE) / 63.0) AS BIGINT)"


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------


def kmv_distinct_users(spark: SparkSession, k: int = KMV_K) -> DataFrame:
    """Per-event-type distinct-user estimate from a k-minimum-values
    sketch, next to the exact count (validation column).

    Plan shape: distinct (type, h) → rank-filtered window.  The
    ``row_number ≤ k`` filter gets Catalyst's InferWindowGroupLimit
    (same plan-asserted pattern as scoring.top_candidates_per_metro):
    each shuffle partition keeps only its k smallest hashes per group
    before the final per-group merge, so per-group state is O(k)
    regardless of how many distinct users a 100-TB event log carries.
    No ties inside a window: the frame is distinct on (type, h)."""
    d = (
        spark.table("events")
        .select(
            "event_type",
            F.expr(_kmv_hash("user_id", fast=True)).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = (
        d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    )
    sketch = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("kth_hash")
    )
    exact = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "n_seen",
            "kth_hash",
            dround(F.expr(_kmv_est_raw(k)), 4).alias("est_distinct"),
            "exact_distinct",
        )
    )


def kmv_distinct_users_oracle_sql(k: int = KMV_K) -> str:
    h = _kmv_hash("user_id", fast=False)
    return f"""
WITH d AS (SELECT DISTINCT event_type, ({h}) AS h FROM events),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
sk AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS kth_hash
  FROM r WHERE rn <= {k} GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM d GROUP BY event_type
)
SELECT sk.event_type, n_seen, kth_hash,
       {_kmv_est_sql(k)} AS est_distinct, exact_distinct
FROM sk JOIN ex ON sk.event_type = ex.event_type"""


def kmv_merged_global(spark: SparkSession, k: int = KMV_K) -> DataFrame:
    """Union-merge of the per-type KMV sketches into ONE global
    distinct-user estimate — the property that makes KMV a sketch: the
    merge input is n_groups·k hashes (a few KB) no matter how large the
    corpus that produced them, so partial sketches built independently
    per partition/day/source combine in one tiny final step instead of
    a global re-scan.  Merge = dedup the union of k-min sets, re-take
    the k smallest, re-apply the same estimator.

    The single-partition window here is BY DESIGN: its input is the
    already-reduced sketch union, never raw data."""
    d = (
        spark.table("events")
        .select(
            "event_type",
            F.expr(_kmv_hash("user_id", fast=True)).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    per_group = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
    )
    merged = (
        per_group.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= k)
        .agg(F.count(F.lit(1)).alias("n_seen"), F.max("h").alias("kth_hash"))
    )
    n_groups = per_group.agg(
        F.countDistinct("event_type").alias("n_sketches")
    )
    exact = d.select("h").distinct().agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return (
        n_groups.crossJoin(merged)
        .crossJoin(exact)
        .select(
            "n_sketches",
            "n_seen",
            dround(F.expr(_kmv_est_raw(k)), 4).alias("est_distinct"),
            "exact_distinct",
        )
    )


def kmv_merged_global_oracle_sql(k: int = KMV_K) -> str:
    h = _kmv_hash("user_id", fast=False)
    return f"""
WITH d AS (SELECT DISTINCT event_type, ({h}) AS h FROM events),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
pg AS (SELECT event_type, h FROM r WHERE rn <= {k}),
u AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM pg) __u
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS kth_hash
  FROM u WHERE rn <= {k}
),
g AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_sketches FROM pg),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM (SELECT DISTINCT h FROM d) __e
)
SELECT n_sketches, n_seen, {_kmv_est_sql(k)} AS est_distinct, exact_distinct
FROM g, m, ex"""


# ---------------------------------------------------------------------------
# KMV set operations (sketch intersection / Jaccard)
# ---------------------------------------------------------------------------


def _kmv_pair_raws(k: int) -> tuple[str, str, str]:
    """Raw (un-rounded) pair-estimator expressions over the columns
    (n_seen, kth_hash, n_both) of the combined-sketch table — one text
    evaluated by both engines so the float64 bit patterns agree.

    Standard KMV set algebra (Beyer et al., SIGMOD 2007): combine two
    bottom-k sketches by taking the k smallest of their union; the union
    estimate is the plain KMV estimator on the combined sketch, the
    Jaccard estimate is the fraction of combined-sketch hashes present
    in BOTH input sketches, and |A∩B| ≈ J·|A∪B|."""
    union_raw = _kmv_est_raw(k)
    jacc_raw = "(CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE))"
    inter_raw = f"(({jacc_raw}) * ({union_raw}))"
    return union_raw, jacc_raw, inter_raw


def kmv_audience_overlap(spark: SparkSession, k: int = KMV_K) -> DataFrame:
    """Pairwise audience overlap between event types from KMV sketches
    alone — distinct-user union, Jaccard, and intersection estimates for
    every type pair, next to the exact overlap (validation column).

    This is the sketch property the per-type estimator can't give you:
    set EXPRESSIONS.  Exact overlap of two 100-TB audiences is a
    distinct-shuffle of both sides into a join; here each audience is
    reduced once to its k smallest user-id hashes (n_types·k rows total,
    a few KB) and every pairwise overlap is computed on sketches only —
    the T² pair table never touches raw events.  Combine = union the two
    k-min sets, re-take the k smallest (row_number ≤ k plans
    WindowGroupLimit, same as kmv_distinct_users), count survivors
    carrying both membership flags.

    Deterministic by construction (md5-derived 48-bit hashes, shared
    estimator text `_kmv_pair_raws`), so the DuckDB oracle checks values
    bit-for-bit.  Reference scope: beyond-reference sketch family
    (reference has no sketch operators)."""
    d = (
        spark.table("events")
        .select(
            "event_type",
            F.expr(_kmv_hash("user_id", fast=True)).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    pg = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
    )
    types = pg.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    ua = pairs.join(
        pg.select(F.col("event_type").alias("type_a"), "h"), "type_a"
    ).select("type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    ub = pairs.join(
        pg.select(F.col("event_type").alias("type_b"), "h"), "type_b"
    ).select("type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    # one row per (pair, hash) with membership flags for each side
    m = (
        ua.unionByName(ub)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    ranked = m.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= k)
    sk = ranked.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.max("h").alias("kth_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
    )
    du = spark.table("events").select("event_type", "user_id").distinct()
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(du.select(F.col("event_type").alias("type_b"), "user_id"), "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    union_raw, jacc_raw, inter_raw = _kmv_pair_raws(k)
    return (
        sk.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_seen",
            "kth_hash",
            "n_both",
            dround(F.expr(union_raw), 4).alias("est_union"),
            dround(F.expr(jacc_raw), 4).alias("est_jaccard"),
            dround(F.expr(inter_raw), 4).alias("est_overlap"),
            F.coalesce(F.col("exact_overlap"), F.lit(0).cast("long")).alias(
                "exact_overlap"
            ),
        )
    )


def kmv_audience_overlap_oracle_sql(k: int = KMV_K) -> str:
    h = _kmv_hash("user_id", fast=False)
    union_raw, jacc_raw, inter_raw = _kmv_pair_raws(k)
    return f"""
WITH d AS (SELECT DISTINCT event_type, ({h}) AS h FROM events),
r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
pg AS (SELECT event_type, h FROM r WHERE rn <= {k}),
t AS (SELECT DISTINCT event_type FROM pg),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM t a, t b WHERE a.event_type < b.event_type
),
m AS (
  SELECT type_a, type_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.type_a, p.type_b, pg.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN pg ON pg.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, pg.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN pg ON pg.event_type = p.type_b
  ) __m GROUP BY type_a, type_b, h
),
rk AS (
  SELECT type_a, type_b, h, in_a, in_b,
         ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
  FROM m
),
sk AS (
  SELECT type_a, type_b,
         CAST(COUNT(*) AS BIGINT) AS n_seen,
         MAX(h) AS kth_hash,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM rk WHERE rn <= {k} GROUP BY type_a, type_b
),
du AS (SELECT DISTINCT event_type, user_id FROM events),
ex AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM du a JOIN du b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT sk.type_a, sk.type_b, n_seen, kth_hash, n_both,
       {round_sql(union_raw, 4)} AS est_union,
       {round_sql(jacc_raw, 4)} AS est_jaccard,
       {round_sql(inter_raw, 4)} AS est_overlap,
       COALESCE(exact_overlap, CAST(0 AS BIGINT)) AS exact_overlap
FROM sk LEFT JOIN ex ON sk.type_a = ex.type_a AND sk.type_b = ex.type_b"""


# ---------------------------------------------------------------------------
# Quantile sketch (bottom-k hash sample)
# ---------------------------------------------------------------------------


def _qsk_hash(fast: bool) -> str:
    h = f"md5('{QSK_SEED}|' || CAST(event_id AS STRING))"
    return (_h48_fast if fast else _h48_sql)(h)


def _rank_of(q: float) -> str:
    """Rank of the discrete q-quantile in an n-row ordered set:
    CEIL(q·n), all-DOUBLE so both engines agree (a bare 0.5 literal
    parses DECIMAL in Spark and mixed BIGINT·DECIMAL types diverge)."""
    return f"CEIL(CAST({q!r} AS DOUBLE) * CAST(cnt AS DOUBLE))"


def _qname(q: float, prefix: str) -> str:
    return f"{prefix}p{int(round(q * 100))}"


def _quant_agg_sql(q: float) -> str:
    """MIN(value at/after the quantile rank) == the value AT the rank
    when rows are ranked ascending by value — conditional-agg form that
    needs no equality on a computed rank."""
    return f"MIN(CASE WHEN srn >= {_rank_of(q)} THEN value END)"


def _quant_aggs(quants: tuple[float, ...], prefix: str) -> str:
    return ", ".join(
        f"{_quant_agg_sql(q)} AS {_qname(q, prefix)}" for q in quants
    )


def quantile_sketch_values(
    spark: SparkSession, k: int = QSK_K, quants: tuple[float, ...] = QSK_QUANTS
) -> DataFrame:
    """Per-event-type value quantiles (p50/p90/p99) estimated from a
    deterministic bottom-k-by-hash row sample, next to the exact
    order-statistic quantiles (validation columns).

    The k rows with the smallest md5-derived keys ARE a uniform random
    sample without replacement — but a reproducible one: no RNG state,
    no partition-order dependence, and (like KMV) MERGEABLE, since the
    global bottom-k of a union is contained in the union of per-partial
    bottom-k sets.  The rank filter plans WindowGroupLimit, so a
    100-TB group contributes O(k) sample state; only the exact twin
    (small-SF validation) sorts whole groups."""
    ev = spark.table("events").select(
        "event_type", "value", F.expr(_qsk_hash(fast=True)).alias("hk")
    )
    wk = Window.partitionBy("event_type").orderBy("hk")
    samp = (
        ev.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("event_type", "value")
    )

    def order_stats(df: DataFrame, prefix: str, n_name: str) -> DataFrame:
        wv = Window.partitionBy("event_type").orderBy("value")
        ranked = df.withColumn("srn", F.row_number().over(wv)).withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        )
        return ranked.groupBy("event_type").agg(
            F.max("cnt").alias(n_name),
            *[
                F.expr(_quant_agg_sql(q)).alias(_qname(q, prefix))
                for q in quants
            ],
        )

    est = order_stats(samp, "est_", "n_sample")
    exact = order_stats(ev.select("event_type", "value"), "exact_", "n_rows")
    return est.join(exact, "event_type")


def quantile_sketch_values_oracle_sql(
    k: int = QSK_K, quants: tuple[float, ...] = QSK_QUANTS
) -> str:
    h = _qsk_hash(fast=False)
    return f"""
WITH ev AS (
  SELECT event_type, value, ({h}) AS hk FROM events
),
samp AS (
  SELECT event_type, value
  FROM (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hk) AS rn
    FROM ev
  ) __r WHERE rn <= {k}
),
est_r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS srn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM samp
),
est AS (
  SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n_sample,
         {_quant_aggs(quants, 'est_')}
  FROM est_r GROUP BY event_type
),
ex_r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS srn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM ev
),
ex AS (
  SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n_rows,
         {_quant_aggs(quants, 'exact_')}
  FROM ex_r GROUP BY event_type
)
SELECT est.event_type, n_sample,
       {', '.join(_qname(q, 'est_') for q in quants)},
       n_rows,
       {', '.join(_qname(q, 'exact_') for q in quants)}
FROM est JOIN ex ON est.event_type = ex.event_type"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------


def _tokens(spark: SparkSession) -> DataFrame:
    return (
        spark.table("documents")
        .repartition("doc_id")
        .select(
            F.explode(
                F.slice(F.split(F.col("text"), " "), 1, CMS_TOKEN_CAP)
            ).alias("tok")
        )
    )


def cms_heavy_hitters(spark: SparkSession, min_count: int = HH_MIN) -> DataFrame:
    """Heavy-hitter token counts estimated from a d×w count-min sketch,
    next to the exact counts.

    The sketch is the fixed-size artifact: every token occurrence
    increments one bucket per hash row, so the grid aggregates to
    exactly d·w cells (here 4×512) whatever the corpus size, merges by
    cell-wise addition across partitions/days, and answers point
    queries as min over rows — a one-sided estimate (cms_count ≥
    exact_count, Cormode & Muthukrishnan 2005).  The exact side here is
    the small-SF validation twin; at 100 TB only the grid is kept."""
    toks = _tokens(spark)
    seeds = F.explode(
        F.array(*[F.lit(s) for s in range(CMS_D)])
    ).alias("s")
    cells = toks.select("tok", seeds).select(
        "s", F.expr(_cms_bucket("s", "tok", fast=True)).alias("bucket")
    )
    sketch = cells.groupBy("s", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    heavy = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .filter(F.col("exact_count") >= min_count)
    )
    probes = heavy.select("tok", "exact_count", seeds).select(
        "tok",
        "exact_count",
        "s",
        F.expr(_cms_bucket("s", "tok", fast=True)).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["s", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cms_count"))
        .select(
            "tok",
            "exact_count",
            "cms_count",
            (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
        )
    )


def cms_heavy_hitters_oracle_sql(min_count: int = HH_MIN) -> str:
    idx = ", ".join(f"({s})" for s in range(CMS_D))
    b = _cms_bucket("s", "tok", fast=False)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')[1:{CMS_TOKEN_CAP}]) AS tok
  FROM documents
),
seeds AS (SELECT * FROM (VALUES {idx}) AS __s(s)),
sketch AS (
  SELECT s, {b} AS bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks CROSS JOIN seeds GROUP BY 1, 2
),
heavy AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY tok HAVING COUNT(*) >= {min_count}
),
probes AS (
  SELECT tok, exact_count, s, {b} AS bucket
  FROM heavy CROSS JOIN seeds
)
SELECT p.tok, p.exact_count, MIN(k.c) AS cms_count,
       MIN(k.c) - p.exact_count AS overcount
FROM probes p JOIN sketch k ON p.s = k.s AND p.bucket = k.bucket
GROUP BY p.tok, p.exact_count"""


# ---------------------------------------------------------------------------
# Bloom-filter decontamination prefilter
# ---------------------------------------------------------------------------


def _splits(spark: SparkSession) -> DataFrame:
    from .sampling import DEFAULT_SEED, SPLIT_BOUNDS, _u_col

    lo, hi = SPLIT_BOUNDS
    u = _u_col(seed=DEFAULT_SEED)
    return spark.table("documents").select(
        "doc_id",
        F.when(u < F.lit(lo), F.lit("train"))
        .when(u < F.lit(hi), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def decontaminate_bloom(
    spark: SparkSession,
    sf_dir: str | None = None,
    words: int = BLOOM_WORDS,
) -> DataFrame:
    """Bloom-prefiltered n-gram decontamination: candidate train-split
    documents whose rare shingles hit a bloom filter built over the
    eval-split's rare shingles, with the exact-confirmed overlap count.

    Same split + rarity contract as dedup.decontaminate, but the corpus
    side never joins the eval shingle SET — it probes a ~4 KB bit array
    (BLOOM_WORDS packed 63-bit words, built with bit_or and broadcast).
    That is the 100-TB posture: dedup.decontaminate's exact semi join
    shuffles every rare corpus shingle on `shingle`; this plan touches
    each corpus shingle map-side and only the bloom-hit survivors (the
    true leaks plus an ~1%-fp fringe) reach the exact confirm join.
    No false negatives: every truly-shared shingle hits all BLOOM_K
    positions by construction, so n_true_shingles counts the same leaks
    dedup.decontaminate finds, and docs with n_true_shingles = 0 are
    the bloom's false-positive fringe, kept visible by design.

    63 usable bits per word: DuckDB raises on BIGINT 1<<63, and the
    sign bit buys nothing (position space is m = words·63 either way).
    ``words`` sizes the filter (~10-16 bits per expected eval shingle
    keeps fp ~1%); the sf0.01 oracle default is BLOOM_WORDS, scale
    harnesses pass a wider filter (the Bloom decontamination section of
    the BENCH/BASELINE.md history measured 131072 words at ×16)."""
    from .dedup import _stage_or_checkpoint

    sh = _stage_or_checkpoint(
        spark,
        lambda: shingles(spark).distinct(),
        "distinct_shingles",
        f"SELECT DISTINCT doc_id, shingle FROM ({shingles_sql()}) __s",
        sf_dir,
        code=(shingles,),
    )
    rare = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP),
        "shingle",
    ).select("doc_id", "shingle")
    split_of = _splits(spark)
    eval_sh = (
        rare.join(
            split_of.filter(F.col("split") == "test").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        .select("shingle")
        .distinct()
    )
    seeds = F.explode(
        F.array(*[F.lit(s) for s in range(BLOOM_K)])
    ).alias("s")
    pos = F.expr(_bloom_pos("s", "shingle", fast=True, bits=words * 63))
    words = (
        eval_sh.select("shingle", seeds)
        .select(pos.alias("pos"))
        .select(
            F.expr(_widx_sql("pos")).alias("widx"),
            F.expr("CAST(pos % 63 AS INT)").alias("bit"),
        )
        .groupBy("widx")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("word")
        )
    )
    train_sh = rare.join(
        split_of.filter(F.col("split") == "train").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    probes = train_sh.select("doc_id", "shingle", seeds).select(
        "doc_id", "shingle", pos.alias("pos")
    ).select(
        "doc_id",
        "shingle",
        F.expr(_widx_sql("pos")).alias("widx"),
        F.expr("CAST(pos % 63 AS INT)").alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(words), "widx", "left")
        .select(
            "doc_id",
            "shingle",
            F.when(
                F.expr(
                    "word IS NOT NULL AND"
                    " (word & shiftleft(CAST(1 AS BIGINT), bit)) != 0"
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("hit"),
        )
        .groupBy("doc_id", "shingle")
        .agg(F.min("hit").alias("all_set"))
        .filter(F.col("all_set") == 1)
        .select("doc_id", "shingle")
    )
    true_hits = hits.join(eval_sh, "shingle", "left_semi")
    n_bloom = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_shingles")
    )
    n_true = true_hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_true_shingles")
    )
    return (
        n_bloom.join(n_true, "doc_id", "left")
        .select(
            "doc_id",
            "n_bloom_shingles",
            F.coalesce("n_true_shingles", F.lit(0))
            .cast("long")
            .alias("n_true_shingles"),
        )
    )


def decontaminate_bloom_oracle_sql(words: int = BLOOM_WORDS) -> str:
    from .sampling import DEFAULT_SEED, SPLIT_BOUNDS, _u_sql

    lo, hi = SPLIT_BOUNDS
    u = _u_sql(seed=DEFAULT_SEED)
    idx = ", ".join(f"({s})" for s in range(BLOOM_K))
    pos = _bloom_pos("s", "shingle", fast=False, bits=words * 63)
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({shingles_sql()}) __s),
rare AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}) f
    ON sh.shingle = f.shingle
),
split_of AS (
  SELECT doc_id,
         CASE WHEN ({u}) < {lo!r} THEN 'train'
              WHEN ({u}) < {hi!r} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
eval_sh AS (
  SELECT DISTINCT r.shingle FROM rare r
  JOIN split_of sp ON r.doc_id = sp.doc_id AND sp.split = 'test'
),
seeds AS (SELECT * FROM (VALUES {idx}) AS __k(s)),
epos AS (SELECT ({pos}) AS pos FROM eval_sh CROSS JOIN seeds),
words AS (
  SELECT {_widx_sql('pos')} AS widx,
         BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
  FROM epos GROUP BY 1
),
train_sh AS (
  SELECT r.doc_id, r.shingle FROM rare r
  JOIN split_of sp ON r.doc_id = sp.doc_id AND sp.split = 'train'
),
probes AS (
  SELECT doc_id, shingle, {_widx_sql(f'({pos})')} AS widx,
         CAST(({pos}) % 63 AS INT) AS bit
  FROM train_sh CROSS JOIN seeds
),
hits AS (
  SELECT p.doc_id, p.shingle
  FROM probes p LEFT JOIN words w ON p.widx = w.widx
  GROUP BY p.doc_id, p.shingle
  HAVING MIN(CASE WHEN w.word IS NOT NULL
                   AND (w.word & (CAST(1 AS BIGINT) << p.bit)) != 0
             THEN 1 ELSE 0 END) = 1
),
n_true AS (
  SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_true_shingles
  FROM hits h JOIN eval_sh e ON h.shingle = e.shingle
  GROUP BY h.doc_id
)
SELECT b.doc_id, b.n_bloom_shingles,
       CAST(COALESCE(t.n_true_shingles, 0) AS BIGINT) AS n_true_shingles
FROM (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_shingles
  FROM hits GROUP BY doc_id
) b
LEFT JOIN n_true t ON b.doc_id = t.doc_id"""
