"""Deterministic corpus-sampling operators for training-data pipelines.

A 100-TB corpus is never trained on whole: pipelines cut reproducible
subsets (ablations), stratified samples (language/domain balance),
fixed-size per-stratum samples (eval sets), weighted mixes (the training
recipe), and train/val/test splits.  Every operator here derives its
randomness from the ENGINE's md5 over the document key — the same
portable 48-bit-uniform construction the dedup family uses
(operators/dedup._h48_sql) — so results are:

- deterministic and seed-reproducible (seed is hashed into the key),
- identical in any engine that can md5 (each operator carries a DuckDB
  oracle twin),
- map-only where possible: hash-threshold sampling touches each row
  once, no shuffle, no driver coordination — the only scalable shape at
  10^12 documents (sample() with a seed is executor-placement-dependent
  in Spark < AQE-determinism; a content-hash threshold never is).

Reference scope: the reference has no sampling operators (its corpus fits
in notebooks); these are the beyond-reference LLM-pipeline ops the brief
calls for, sharing the documents-table contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import dround
from .dedup import _h48_fast, _h48_sql

DEFAULT_SEED = "gss-sample-42"
_U_SCALE = float(1 << 48)


def _u_sql(key: str = "doc_id", seed: str = DEFAULT_SEED) -> str:
    """Uniform-[0,1) SQL expression from md5(seed || key) — identical text
    runs on Spark and DuckDB (md5/INSTR/SUBSTRING are shared), identical
    doubles out (48-bit integer / 2^48 is exact in IEEE754).  This is the
    ORACLE form; Spark plans get the value-identical ``_u_col``."""
    h = f"md5('{seed}|' || CAST({key} AS STRING))"
    return f"(CAST(({_h48_sql(h)}) AS DOUBLE) / {_U_SCALE!r})"


def _u_col(key: str = "doc_id", seed: str = DEFAULT_SEED):
    """Spark-side uniform — same value as ``_u_sql``'s text via the
    conv-based ``_h48_fast`` (the INSTR-chain form was ~75% of corpus-scan
    time in the r6 ingest-dedup profile; re-measure with
    tools/layer_profile.py, leaf dedup_incremental)."""
    h = f"md5('{seed}|' || CAST({key} AS STRING))"
    return F.expr(f"(CAST(({_h48_fast(h)}) AS DOUBLE) / {_U_SCALE!r})")


def hash_sample(
    spark: SparkSession, fraction: float = 0.25, seed: str = DEFAULT_SEED
) -> DataFrame:
    """Reproducible Bernoulli sample: keep iff u(doc) < fraction.

    Map-only — the filter rides the parquet scan, no shuffle, and the
    SAME rows are kept regardless of cluster size, partitioning, or
    engine (unlike ``DataFrame.sample``, whose output depends on task
    split boundaries).  Changing ``seed`` draws an independent sample."""
    docs = spark.table("documents")
    u = _u_col(seed=seed)
    return docs.select(
        "doc_id", "lang", "source", "n_chars", dround(u, 9).alias("u")
    ).filter(u < F.lit(fraction))


def hash_sample_oracle_sql(
    fraction: float = 0.25, seed: str = DEFAULT_SEED
) -> str:
    u = _u_sql(seed=seed)
    return f"""
SELECT doc_id, lang, source, n_chars,
       (FLOOR(({u}) * 1000000000.0 + 0.5) / 1000000000.0) AS u
FROM documents
WHERE ({u}) < {fraction!r}"""


STRATA_FRACTIONS = {"en": 0.2, "es": 0.5, "de": 0.8}
STRATA_DEFAULT = 1.0


def stratified_sample(
    spark: SparkSession,
    fractions: dict[str, float] | None = None,
    default: float = STRATA_DEFAULT,
    seed: str = DEFAULT_SEED,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (downsample over-represented
    languages, keep the rare ones whole) — still map-only: the per-row
    threshold is a CASE on the stratum column, no shuffle, no per-stratum
    pass."""
    fractions = STRATA_FRACTIONS if fractions is None else fractions
    docs = spark.table("documents")
    u = _u_col(seed=seed)
    thr = F.lit(float(default))
    for lang, frac in sorted(fractions.items()):
        thr = F.when(F.col("lang") == lang, F.lit(float(frac))).otherwise(thr)
    return docs.select(
        "doc_id", "lang", "source", dround(u, 9).alias("u")
    ).filter(u < thr)


def stratified_sample_oracle_sql(
    fractions: dict[str, float] | None = None,
    default: float = STRATA_DEFAULT,
    seed: str = DEFAULT_SEED,
) -> str:
    fractions = STRATA_FRACTIONS if fractions is None else fractions
    u = _u_sql(seed=seed)
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {float(frac)!r}"
        for lang, frac in sorted(fractions.items())
    )
    return f"""
SELECT doc_id, lang, source,
       (FLOOR(({u}) * 1000000000.0 + 0.5) / 1000000000.0) AS u
FROM documents
WHERE ({u}) < CASE {whens} ELSE {float(default)!r} END"""


GROUP_SAMPLE_K = 40


def group_sample(
    spark: SparkSession, k: int = GROUP_SAMPLE_K, seed: str = DEFAULT_SEED
) -> DataFrame:
    """Exactly-k-per-stratum sample (eval-set cuts): rank documents inside
    each (lang, source) stratum by their uniform hash and keep the first
    k — the distributed, deterministic equivalent of per-group reservoir
    sampling (uniform without replacement given distinct hash values).

    Scale shape: rank<=k over a window is exactly the form Catalyst's
    InferWindowGroupLimit rewrites into per-partition top-k heaps
    (map-side group limits, plan-asserted in tests) — a hot stratum never
    funnels through one reducer's full sort.  For engines without the
    rule, operators/skew.salted_topk is the manual fallback (BENCH
    measured 5.2x on a 95%-skewed key)."""
    from pyspark.sql import Window

    docs = spark.table("documents")
    u = _u_col(seed=seed)
    w = Window.partitionBy("lang", "source").orderBy(
        F.asc("u"), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "lang", "source", dround(u, 9).alias("u"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "lang", "source", "rank")
    )


def group_sample_oracle_sql(
    k: int = GROUP_SAMPLE_K, seed: str = DEFAULT_SEED
) -> str:
    u = _u_sql(seed=seed)
    return f"""
SELECT doc_id, lang, source, rank FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source
           ORDER BY (FLOOR(({u}) * 1000000000.0 + 0.5) / 1000000000.0) ASC,
                    doc_id ASC
         ) AS rank
  FROM documents
) __r WHERE rank <= {k}"""


MIX_WEIGHTS = {"en": 0.5, "es": 0.3, "de": 0.2}
MIX_TARGET_ROWS = 300


def training_mix(
    spark: SparkSession,
    weights: dict[str, float] | None = None,
    target_rows: int = MIX_TARGET_ROWS,
    seed: str = DEFAULT_SEED,
) -> DataFrame:
    """Weighted corpus mix — the training-recipe operator: given target
    proportions per language and a target corpus size, keep each stratum
    at fraction min(1, target_rows·w_s / n_s) by hash threshold.

    Plan: one tiny per-stratum count agg (|langs| rows — broadcast back),
    then the same map-only hash filter; the corpus streams once.  An
    under-supplied stratum (n_s < its quota) is kept whole — the standard
    epochs-vs-availability tradeoff surfaces in ``keep_fraction`` so the
    recipe is auditable."""
    weights = MIX_WEIGHTS if weights is None else weights
    docs = spark.table("documents")
    wmap = F.create_map(
        *[x for lang, wt in sorted(weights.items()) for x in (F.lit(lang), F.lit(float(wt)))]
    )
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_lang"))
        .withColumn("w", wmap[F.col("lang")])
        .filter(F.col("w").isNotNull())
        .withColumn(
            "keep_fraction",
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows)) * F.col("w") / F.col("n_lang").cast("double"),
            ),
        )
    )
    u = _u_col(seed=seed)
    return (
        docs.join(F.broadcast(counts.select("lang", "keep_fraction")), "lang")
        .filter(u < F.col("keep_fraction"))
        .select(
            "doc_id",
            "lang",
            "source",
            dround(F.col("keep_fraction"), 9).alias("keep_fraction"),
        )
    )


def training_mix_oracle_sql(
    weights: dict[str, float] | None = None,
    target_rows: int = MIX_TARGET_ROWS,
    seed: str = DEFAULT_SEED,
) -> str:
    weights = MIX_WEIGHTS if weights is None else weights
    u = _u_sql(seed=seed)
    wvals = ", ".join(
        f"('{lang}', {float(wt)!r})" for lang, wt in sorted(weights.items())
    )
    return f"""
WITH w(lang, wt) AS (SELECT * FROM (VALUES {wvals})),
counts AS (
  SELECT d.lang,
         LEAST(CAST(1.0 AS DOUBLE),
               CAST({target_rows} AS DOUBLE) * w.wt / CAST(COUNT(*) AS DOUBLE))
           AS keep_fraction
  FROM documents d JOIN w ON d.lang = w.lang
  GROUP BY d.lang, w.wt
)
SELECT d.doc_id, d.lang, d.source,
       (FLOOR(c.keep_fraction * 1000000000.0 + 0.5) / 1000000000.0) AS keep_fraction
FROM documents d JOIN counts c ON d.lang = c.lang
WHERE ({u}) < c.keep_fraction"""


SPLIT_BOUNDS = (0.8, 0.9)  # train < 0.8 <= val < 0.9 <= test


def corpus_splits(
    spark: SparkSession,
    bounds: tuple[float, float] = SPLIT_BOUNDS,
    seed: str = DEFAULT_SEED,
) -> DataFrame:
    """Deterministic train/val/test assignment + per-(split, lang) counts:
    the leak-proof split every downstream trainer needs — membership is a
    pure function of doc_id, so re-runs, engine swaps, and incremental
    corpus growth never migrate a document across splits (hash-boundary
    splitting; growth only ADDS rows to each split)."""
    lo, hi = bounds
    docs = spark.table("documents")
    u = _u_col(seed=seed)
    split = (
        F.when(u < F.lit(lo), F.lit("train"))
        .when(u < F.lit(hi), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def corpus_splits_oracle_sql(
    bounds: tuple[float, float] = SPLIT_BOUNDS, seed: str = DEFAULT_SEED
) -> str:
    lo, hi = bounds
    u = _u_sql(seed=seed)
    return f"""
SELECT CASE WHEN ({u}) < {lo!r} THEN 'train'
            WHEN ({u}) < {hi!r} THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2"""


SEQ_TOKEN_BUDGET = 256


def pack_sequences(
    spark: SparkSession,
    budget: int = SEQ_TOKEN_BUDGET,
    seed: str = DEFAULT_SEED,
) -> DataFrame:
    """Token-budget sequence packing: assign each document to a training
    sequence so consecutive documents fill ~``budget`` tokens — the
    batching step before tokenized examples are written.

    Deterministic contiguous packing: within each language shard,
    documents are ordered by their uniform hash (reproducible shuffle)
    and binned at seq = floor(tokens_before / budget) — one running-sum
    window per shard, no sequential fold.  A document straddling a
    boundary joins the bin its first token falls in, so a bin may
    overrun by < max-doc-tokens (the standard relational approximation
    of greedy packing; exact greedy is an order-dependent fold that
    cannot map-reduce).  Scale shape: ONE window cumsum per shard key —
    at corpus scale the shard key is (lang, hash-bucket) so no partition
    exceeds a reducer; the window is rank-free (running sum only,
    map-side partials apply)."""
    from .text_ops import token_count_sql

    docs = spark.table("documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.expr(token_count_sql("text")).cast("bigint").alias("n_tokens"),
        dround(_u_col(seed=seed), 9).alias("u"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tokens_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    seq = F.floor(tokens_before / F.lit(float(budget))).cast("bigint")
    return base.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.concat_ws("-", F.col("lang"), seq.cast("string")).alias("seq_id"),
    )


def pack_sequences_oracle_sql(
    budget: int = SEQ_TOKEN_BUDGET, seed: str = DEFAULT_SEED
) -> str:
    from .text_ops import token_count_sql

    u = _u_sql(seed=seed)
    tk = token_count_sql("text")
    return f"""
SELECT doc_id, lang, n_tokens,
       lang || '-' || CAST(CAST(FLOOR(
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY u ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / CAST({budget} AS DOUBLE)) AS BIGINT) AS STRING) AS seq_id
FROM (
  SELECT doc_id, lang, CAST({tk} AS BIGINT) AS n_tokens,
         (FLOOR(({u}) * 1000000000.0 + 0.5) / 1000000000.0) AS u
  FROM documents
) __base"""
