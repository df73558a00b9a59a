"""Deduplication operators for training-data pipelines over ``documents``:

- exact dedup           : hash-groupBy on a normalized fingerprint
- n-gram Jaccard        : shingle inverted index → candidate pairs →
                          exact Jaccard via intersection/union counts
- MinHash + LSH         : per-seed min of md5(seed||shingle) signatures,
                          banded bucket join for candidates, similarity =
                          fraction of agreeing minhashes
- SimHash               : fully relational 60-bit signature (engine-side
                          md5 + bit aggregation) + banded hamming-ball
                          pair join, both oracle-checked
- embedding near-dup    : cosine over the embeddings table (see
                          operators/similarity.py for the kNN variant)
- components            : near-dup pairs → clusters (distributed min-label
                          propagation with pointer doubling; recursive-CTE
                          oracle)

Scale design: everything is shingle-level map + hash-shuffle on the
shingle/band key (the canonical MinHash-LSH plan).  Hot shingles (stop
phrases) are the skew risk: the inverted index caps posting-list length
(DF cap) exactly as web-scale dedup pipelines drop ubiquitous shingles —
that cap also keeps candidate generation near-linear.  Pair keys are
always (lo, hi) ordered to dedupe the symmetric pair space.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import dround
from . import plan_choice
from .text_ops import token_count_sql

N_SHINGLE_WORDS = 3
MAX_SHINGLES = 40  # per-doc cap: bounded work per document
DF_CAP = 50  # posting-list cap: drop ubiquitous shingles (skew + noise)
# Production LSH shape: 64 hashes in 16 bands of 4 rows.  The b·r
# S-curve at (b=16, r=4): P(candidate | s) = 1-(1-s^4)^16 ≈ 0.63 at the
# 0.5 threshold but < 0.026 at s=0.2 — the toy 8×(r=2) shape collided
# ~15% of 0.2-similar pairs, flooding the refine join inside hot buckets
# at corpus scale.  The signature build is a durable content-keyed stage,
# so the 8× wider table is paid once per corpus, not per query.
MINHASH_SEEDS = 64
LSH_BANDS = 16  # 4 seeds per band


def shingles(spark: SparkSession, docs: DataFrame | None = None) -> DataFrame:
    """Word 3-gram shingles, ≤MAX_SHINGLES per doc — over the registered
    ``documents`` table, or any frame with (doc_id, text) (the streaming
    ingest twin passes its micro-batch here).

    The text is split ONCE into a token array, then shingles are O(1)
    element_at lookups — split_part(text, ' ', i+j) per position would
    re-scan the full text 3×MAX_SHINGLES times per doc (O(len·shingles)),
    the dominant cost of the minhash plan at corpus scale.  The oracle
    keeps split_part (identical output; DuckDB run is small)."""
    if docs is None:
        # repartition first: the raw scan may be one row-group (one task)
        # and the explode pipeline below is the dominant map work
        docs = spark.table("documents").repartition("doc_id")
    n_tokens = F.expr(token_count_sql("text"))
    pos = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        n_tokens.alias("nt"),
        F.explode(F.sequence(F.lit(1), F.lit(MAX_SHINGLES))).alias("i"),
    ).filter(F.col("i") <= F.col("nt") - (N_SHINGLE_WORDS - 1))
    shingle = F.concat_ws(
        " ",
        *[
            F.element_at(F.col("toks"), F.col("i") + F.lit(j))
            for j in range(N_SHINGLE_WORDS)
        ],
    )
    return pos.select("doc_id", shingle.alias("shingle"))


def shingles_sql(documents: str = "documents") -> str:
    idx = ", ".join(f"({i})" for i in range(1, MAX_SHINGLES + 1))
    tk = token_count_sql("d.text")
    words = " || ' ' || ".join(
        f"split_part(d.text, ' ', o.i + {j})" for j in range(N_SHINGLE_WORDS)
    )
    return f"""
SELECT d.doc_id, {words} AS shingle
FROM {documents} d
CROSS JOIN (SELECT * FROM (VALUES {idx}) AS __pos(i)) o
WHERE o.i <= {tk} - {N_SHINGLE_WORDS - 1}"""


def _stage_or_checkpoint(
    spark: SparkSession, df: DataFrame, name: str, content_sql: str,
    sf_dir: str | None = None, code=(), force: bool = False,
) -> DataFrame:
    """Materialize a doc-level intermediate that feeds multiple plan
    branches.  With a known data dir: a DURABLE Iceberg/parquet stage
    snapshot (sources/iceberg.write_stage), content-keyed on the defining
    oracle SQL PLUS a digest of the producing functions' source (``code``)
    — stable across sessions (warm runs read the committed parquet), and
    invalidated when EITHER the algorithm's SQL twin or its Spark-side
    implementation changes (keying on the SQL alone would keep serving a
    stale snapshot after a Spark-side-only fix).  Survives executor loss,
    unlike localCheckpoint's deserialized executor-memory blocks.  Without
    a data dir (ad-hoc plans over unregistered inputs): eager
    localCheckpoint, reclaimed on plan GC.

    ``df`` may be a zero-arg callable returning the DataFrame: the warm
    path then resolves the committed stage WITHOUT constructing the
    producing plan at all (write_stage's warm path; the 64-agg signature
    plan costs ~0.4 s of driver-serial py4j round trips per construction
    — r6 profiling showed dedup_incremental building it twice per call
    just to throw it away)."""
    if sf_dir:
        from ..sources import iceberg

        return iceberg.write_stage(
            spark, df, name, sf_dir, content_key=_content_key(content_sql, code),
            force=force,
        )
    frame = df() if callable(df) else df
    return frame.localCheckpoint(eager=True)


def _content_key(content_sql: str, code=()) -> str:
    import hashlib
    import inspect

    src = "".join(inspect.getsource(f) for f in code)
    return content_sql + "|code:" + hashlib.md5(src.encode()).hexdigest()


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(spark: SparkSession) -> DataFrame:
    """Duplicate groups on the normalized fingerprint: keep the minimum
    doc_id as canonical (hash-groupBy — one shuffle on the fingerprint)."""
    from .text_ops import fingerprint

    fp = fingerprint(spark)
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_doc"), F.count(F.lit(1)).alias("n_docs")
    )


def exact_dedup_oracle_sql() -> str:
    from .text_ops import fingerprint_oracle_sql

    return f"""
SELECT fp, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_docs
FROM ({fingerprint_oracle_sql()}) __fp
GROUP BY fp"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    spark: SparkSession, threshold: float = 0.35, sf_dir: str | None = None
) -> DataFrame:
    """Candidate pairs from a shingle inverted index, scored with exact
    Jaccard over distinct shingles.  DF-capped postings bound the join.
    The distinct shingle set feeds four consumers (sizes, DF filter, both
    posting sides) — materialized once: a durable content-keyed stage
    snapshot when ``sf_dir`` is known, else an eager localCheckpoint
    (blocks ContextCleaner-reclaimed when the plan is GC'd; persist would
    pin cache for the whole session)."""
    sh = _stage_or_checkpoint(
        spark,
        lambda: shingles(spark).distinct(),
        "distinct_shingles",
        f"SELECT DISTINCT doc_id, shingle FROM ({shingles_sql()}) __s",
        sf_dir,
        code=(shingles,),
    )
    small = plan_choice.small(spark, "documents")
    sizes = plan_choice.scale_hint(
        sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("size")), small
    )
    postings = sh.join(
        plan_choice.scale_hint(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= DF_CAP),
            small,
        ),
        "shingle",
    )
    postings = plan_choice.scale_hint(postings, small)
    a = postings.select(F.col("doc_id").alias("a"), "shingle")
    b = postings.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("size").alias("sa")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("size").alias("sb")), "b")
        .withColumn(
            "jaccard",
            dround(
                F.col("n_inter")
                / (F.col("sa") + F.col("sb") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_inter", "jaccard")
    )
    return scored


def ngram_jaccard_pairs_oracle_sql(threshold: float = 0.35) -> str:
    sh = shingles_sql()
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({sh}) __s),
sizes AS (SELECT doc_id, COUNT(*) AS size FROM sh GROUP BY doc_id),
postings AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}) f
    ON sh.shingle = f.shingle
),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_inter
  FROM postings x JOIN postings y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_inter,
       (FLOOR((CAST(n_inter AS DOUBLE) / (sa.size + sb.size - n_inter)) * 1000000.0 + 0.5) / 1000000.0) AS jaccard
FROM inter
JOIN sizes sa ON inter.a = sa.doc_id
JOIN sizes sb ON inter.b = sb.doc_id
WHERE (FLOOR((CAST(n_inter AS DOUBLE) / (sa.size + sb.size - n_inter)) * 1000000.0 + 0.5) / 1000000.0) >= {threshold}"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_P = 2147483647  # 2^31 - 1 (prime) — universal-hash modulus


def _h48_sql(h: str = "h") -> str:
    """48-bit integer from the first 12 md5 nibbles (portable, exact).

    Nibble order is LITTLE-endian (position 1 carries 16^0): an arbitrary
    historical choice, but every committed signature and every oracle
    depends on it, so both forms of this function preserve it.  This is
    the PORTABLE text — the lowest common denominator DuckDB and Spark
    both evaluate identically — used in oracle SQL.  Spark-side hot paths
    use ``_h48_fast`` instead: value-identical, ~3x cheaper per row."""
    return " + ".join(
        # CAST: a bare power-of-16 literal parses as INT32 in Spark and the
        # nibble product overflows under ANSI mode for n >= 8
        f"(INSTR('0123456789abcdef', SUBSTRING({h}, {n + 1}, 1)) - 1) * CAST({16 ** n} AS BIGINT)"
        for n in range(12)
    )


def _h48_fast(h: str = "h") -> str:
    """Spark-native twin of ``_h48_sql`` — identical value, JVM-fast.

    ``conv(hex, 16, 10)`` parses big-endian, so reversing the 12-char
    prefix first reproduces the little-endian nibble weighting of the
    portable INSTR chain exactly (property-tested equal row-for-row in
    tests/test_round5_ops.py).  The INSTR chain costs 12 SUBSTRING +
    INSTR string ops per row — measured as ~75%% of a 2.56M-row scan's
    time (r6 ingest profile; re-measure: tools/layer_profile.py, leaf
    dedup_incremental); conv is one codegen'd intrinsic.
    DuckDB has no conv(), so oracles keep ``_h48_sql``."""
    return f"CAST(CONV(REVERSE(SUBSTRING({h}, 1, 12)), 16, 10) AS BIGINT)"


def _mh_sql(seed: int) -> str:
    """Seeded permutation of h48: (a·h + b) mod p — ONE md5 per shingle
    feeds all seeds (8 md5 calls per shingle was the dominant cost of the
    signature stage at corpus scale).  All operands < 2^31 so products
    stay < 2^62: exact BIGINT in both engines."""
    a = (2654435761 * (seed + 1)) % MINHASH_P
    b = (96002369 * (seed + 1)) % MINHASH_P
    return f"MIN(((h48 % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})"


def minhash_signatures(
    spark: SparkSession, docs: DataFrame | None = None
) -> DataFrame:
    """Per-doc minhash signature columns mh0..mh{n-1}: min of a seeded
    universal hash over one engine-side md5 per shingle — over the
    registered table, or any (doc_id, text) frame (streaming ingest).

    No ``.distinct()`` before the agg: MIN is idempotent over duplicate
    shingles, so deduplicating first only adds a full shuffle of the
    shingle table — the signature (and the oracle's DISTINCT form) is
    identical either way, and the plan is shingle-explode → hash →
    partial-agg → ONE shuffle on doc_id."""
    sh = shingles(spark, docs)
    hashed = sh.select(
        "doc_id", F.md5("shingle").alias("h")
    ).select("doc_id", F.expr(_h48_fast()).alias("h48"))
    # ONE spark.sql parse for all 64 aggregates: 64 separate F.expr calls
    # are 64 py4j parse round trips — measured 2.7 s of driver-serial plan
    # build per cold call at this width vs 0.4 s for the single templated
    # statement (identical plan out of the analyzer)
    aggs = ", ".join(f"{_mh_sql(seed)} AS mh{seed}" for seed in range(MINHASH_SEEDS))
    return spark.sql(
        f"SELECT doc_id, {aggs} FROM {{h}} GROUP BY doc_id", h=hashed
    )


def minhash_signatures_sql() -> str:
    sh = shingles_sql()
    aggs = ", ".join(f"{_mh_sql(seed)} AS mh{seed}" for seed in range(MINHASH_SEEDS))
    return f"""
SELECT doc_id, {aggs}
FROM (
  SELECT doc_id, {_h48_sql('h')} AS h48
  FROM (
    SELECT doc_id, MD5(shingle) AS h
    FROM (SELECT DISTINCT doc_id, shingle FROM ({sh}) __s) __d
  ) __h
) __h48
GROUP BY doc_id"""


def _packed_signatures(
    spark: SparkSession, sf_dir: str | None = None, force_stage: bool = False
) -> DataFrame:
    """The minhash signature table in its committed PACKED layout —
    (doc_id, sig array<bigint>) — shared by every LSH consumer
    (pair-finding, incremental ingest dedup): ONE durable content-keyed
    stage, so a warm pipeline run computes the shingle→hash→agg pass
    exactly once regardless of how many operators read signatures.

    The packed form commits two parquet column chunks instead of 64
    scalar columns (warm reads prune to exactly them) and every
    downstream plan carries a single array expression instead of 64
    refs: at this width the column-per-component form cost seconds of
    Catalyst analysis per query.  The oracle contract is unaffected
    (minhash_signatures / its SQL twin keep the mh0..mh63 schema; no
    oracle reads the stage itself)."""
    def packed_plan() -> DataFrame:
        return minhash_signatures(spark).selectExpr(
            "doc_id", f"{_packed_sig_expr()} AS sig"
        )

    return _stage_or_checkpoint(
        spark, packed_plan, "minhash_sig_packed",
        minhash_signatures_sql() + "|packed-v2-int", sf_dir,
        code=(shingles, minhash_signatures), force=force_stage,
    )


def _packed_sig_expr() -> str:
    """SQL for the packed signature array — array<int>, not
    array<bigint>: every component is (a·h + b) mod (2^31 − 1) < 2^31 by
    construction, so INT is lossless — and the signature stream is the
    ingest service's dominant memory traffic (the refine join streams
    the whole corpus side), so halving the element width halves the
    bytes of the heaviest scan (guide §2.3 "narrower types").  Agreement
    compares and est arithmetic are value-identical.  EVERY packer must
    use this expression: the LSH band key hashes the array bytes, so an
    arrival packed as bigint would never collide with an int-packed
    corpus index (caught by the streaming batch-equivalence test)."""
    return "array(" + ", ".join(
        f"CAST(mh{i} AS INT)" for i in range(MINHASH_SEEDS)
    ) + ")"


def _band_buckets(packed: DataFrame) -> DataFrame:
    """(doc_id, bkey) rows from packed signatures: a single generator
    explode rather than a UNION of per-band selects (which would
    re-execute the signature plan per band).

    The band key is ONE fixed-width long — ``xxhash64(band, slice)`` over
    the band's signature slice.  Equal (band, slice) always hash equal,
    so no true LSH candidate is ever lost vs the oracle's value-concat
    string key; an UNEQUAL slice pair colliding on the 64-bit hash can
    only ADD a candidate, and every candidate still passes the
    full-signature agreement refine (est >= threshold), which a random
    collision pair cannot (P[>=32 of 64 seeds agree] for unrelated docs
    is ~0), so the value-checked output is identical.  Why hash instead
    of the slice itself: the earlier concat-string key was an allocation
    storm (10M+ short-lived strings per 640k-doc pass, GC-bottlenecking
    high parallelism), the array<bigint> form shuffles 5x the bytes of a
    single long and cannot be a bucketBy column — the hashed long key is
    shuffle-minimal AND the bucketable join key the committed ingest
    probe index (ingest_probe_index) is clustered on."""
    per_band = MINHASH_SEEDS // LSH_BANDS
    # one server-parsed expression, not 16 xxhash64/slice Column trees
    # (py4j round trips dominate warm build time); same SQL functions,
    # same INT band literal -> identical bkey values as the Column form
    band_keys = "array(" + ", ".join(
        f"xxhash64({bidx}, slice(sig, {bidx * per_band + 1}, {per_band}))"
        for bidx in range(LSH_BANDS)
    ) + ")"
    carry = [c for c in packed.columns if c not in ("doc_id", "sig")]
    return packed.select(
        "doc_id", *carry, F.explode(F.expr(band_keys)).alias("bkey")
    )


def _sig_agree():
    """Component-agreement count between two packed signatures sig_a/sig_b
    (one server-parsed expression — the lambda-Column form costs ~15 py4j
    round trips per construction for the same plan)."""
    return F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, x) -> acc + x)"
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    threshold: float = 0.5,
    sf_dir: str | None = None,
    force_stage: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidates; the
    estimated similarity = fraction of agreeing minhash components.

    The signature table feeds three consumers (band buckets + both sides
    of the signature join): it is materialized ONCE — as a durable stage
    snapshot when ``sf_dir`` is known (the at-scale form: warm runs skip
    the shingle→hash→agg pass entirely and the table survives executor
    death), else an eager localCheckpoint (blocks reclaimed on plan GC
    rather than pinned for the session).  The band table is a single
    generator explode rather than a UNION of per-band selects (which
    would re-execute the signature plan per band)."""
    packed = _packed_signatures(spark, sf_dir, force_stage)
    small = plan_choice.small(spark, "documents")
    buckets = plan_choice.scale_hint(_band_buckets(packed), small)
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["bkey"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    sa = plan_choice.scale_hint(
        packed.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a")), small
    )
    sb = plan_choice.scale_hint(
        packed.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b")), small
    )
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("est_jaccard", dround(_sig_agree() / F.lit(float(MINHASH_SEEDS)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", "est_jaccard")
    )


def minhash_lsh_pairs_oracle_sql(threshold: float = 0.5) -> str:
    sig = minhash_signatures_sql()
    per_band = MINHASH_SEEDS // LSH_BANDS
    band_selects = []
    for bidx in range(LSH_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{bidx * per_band + j} AS STRING)" for j in range(per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {bidx} AS band, {cols} AS bucket FROM sig"
        )
    buckets = " UNION ALL ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(MINHASH_SEEDS)
    )
    return f"""
WITH sig AS ({sig}),
buckets AS ({buckets}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
)
SELECT cand.a, cand.b,
       (FLOOR((({agree}) / {float(MINHASH_SEEDS)}) * 1000000.0 + 0.5) / 1000000.0) AS est_jaccard
FROM cand
JOIN sig sa ON cand.a = sa.doc_id
JOIN sig sb ON cand.b = sb.doc_id
WHERE (FLOOR((({agree}) / {float(MINHASH_SEEDS)}) * 1000000.0 + 0.5) / 1000000.0) >= {threshold}"""


# ---------------------------------------------------------------------------
# SimHash — fully relational (engine-side md5 bit aggregation, no Python)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 nibbles; signature < 2^60 stays exact as BIGINT
SIMHASH_TOKEN_CAP = 64  # bounded work per document (like MAX_SHINGLES)


def _simhash_tail_sql() -> str:
    """The dialect-neutral part of the SimHash plan, given a CTE ``tok``
    with (doc_id, h=md5(token)):  decode the first 15 hex nibbles, sum
    ±1 per bit across tokens, assemble the signature.  Token hashing is
    the ENGINE's md5 (shared permutation family with minhash), so the
    whole operator is SQL-portable and oracle-checked — the round-1
    pandas kernel looped per character in Python."""
    nibs = ",\n         ".join(
        f"(INSTR('0123456789abcdef', SUBSTRING(h, {n + 1}, 1)) - 1) AS nib{n}"
        for n in range(SIMHASH_BITS // 4)
    )
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (nib{b // 4} % {2 ** (b % 4 + 1)}) >= {2 ** (b % 4)} "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
nib AS (
  SELECT doc_id,
         {nibs}
  FROM tok
),
acc AS (
  SELECT doc_id,
         {sums}
  FROM nib GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM acc"""


def simhash(spark: SparkSession) -> DataFrame:
    """60-bit SimHash over word tokens, entirely JVM-side: token explode →
    md5 → nibble decode → per-bit signed sums → signature.  One shuffle
    (the per-doc agg); linear in corpus size; no UDF.

    Tokens come from ONE split per doc (explode of a slice) — the oracle
    uses split_part positions, which produce the same ≤CAP tokens on the
    single-space-separated corpus but would rescan the text per position
    on the Spark side."""
    # REPARTITION before the heavy map work — but only ABOVE the corpus
    # gate: a big corpus behind few scan splits (one giant parquet
    # row-group) would serialize the explode+md5 pipeline on one core.
    # Below the gate the map work is trivial and the exchange is pure
    # overhead (measured at sf0.1: 0.83 s -> 0.66 s warm and 3.8 s ->
    # 1.1 s cold without it — the extra stage costs a codegen compile,
    # an AQE round and a shuffle of every doc row).
    #
    # Bit extraction: Spark decodes the 15 hex nibbles in ONE conv() to a
    # 60-bit BIGINT and tests bits with shift/mask (integer ops), instead
    # of the oracle's 15 INSTR+SUBSTRING per row (string ops) — bit b of
    # the nibble path is bit (4*(14 - b//4) + b%4) of the conv value, so
    # the signatures are identical; the oracle keeps the dialect-neutral
    # nibble decode (DuckDB has no conv) and the driver hash-checks both.
    #
    # Accumulation is BIT-PACKED (r6): instead of 60 SUM(±1) aggregates
    # (a 60-long buffer per group), each token packs its 60 bits into 8
    # byte-lane longs (bit b -> lane b%8 of pack b//8) and the agg keeps
    # 8 SUMs + COUNT.  Lane sums stay exact: ≤ CAP=64 tokens per doc per
    # 8-bit lane, no carry.  sign(Σ±1) == (2·ones > n_tokens), so the
    # emitted signature is bit-identical (equality-tested vs the unpacked
    # form; the oracle hash checks it against the INSTR chain).
    packs = ", ".join(
        "SUM(" + " + ".join(
            f"(((v >> {4 * (14 - b // 4) + b % 4}) & 1) << {8 * i})"
            for i, b in enumerate(range(8 * j, min(8 * j + 8, SIMHASH_BITS)))
        ) + f") AS p{j}"
        for j in range((SIMHASH_BITS + 7) // 8)
    )
    sig = " + ".join(
        f"CASE WHEN 2 * ((p{b // 8} >> {8 * (b % 8)}) & 255) > nt"
        f" THEN {2 ** b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    hint = "" if plan_choice.small(spark, "documents") else "/*+ REPARTITION(doc_id) */ "
    sql = f"""
WITH tok AS (
  SELECT doc_id, CAST(conv(substring(md5(tok), 1, {SIMHASH_BITS // 4}), 16, 10) AS BIGINT) AS v
  FROM (
    SELECT {hint}doc_id,
           explode(slice(split(text, ' '), 1, {SIMHASH_TOKEN_CAP})) AS tok
    FROM documents
  ) __pos
),
acc AS (
  SELECT doc_id, COUNT(*) AS nt,
         {packs}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM acc"""
    return spark.sql(sql)


def simhash_oracle_sql() -> str:
    idx = ", ".join(f"({i})" for i in range(1, SIMHASH_TOKEN_CAP + 1))
    tk = token_count_sql("d.text")
    return f"""
WITH tok AS (
  SELECT d.doc_id, MD5(split_part(d.text, ' ', o.i)) AS h
  FROM documents d
  CROSS JOIN (SELECT * FROM (VALUES {idx}) AS __pos(i)) o
  WHERE o.i <= {tk}
),
{_simhash_tail_sql()}"""


# ---------------------------------------------------------------------------
# SimHash pair application: banded hamming-ball bucket join
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4  # 4×15-bit segments of the 60-bit signature
SIMHASH_MAX_HAMMING = 3  # banding is EXACT for <= SIMHASH_BANDS - 1 bits


def simhash_pairs(
    spark: SparkSession,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    sf_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs from the 60-bit SimHash signatures: band each
    signature into 4×15-bit segments, bucket-join docs agreeing on any
    segment (the minhash banding plan, one generator explode + one
    equi-join), then refine with the exact hamming distance
    ``bit_count(sig_a ^ sig_b)``.

    EXACT, not approximate, for ``max_hamming <= SIMHASH_BANDS - 1``: by
    pigeonhole, <= 3 differing bits can touch at most 3 of the 4 bands,
    so every qualifying pair agrees on at least one full band and
    collides in its bucket — the banded plan is a lossless optimization
    of the all-pairs oracle (which DuckDB runs directly).  Scale shape:
    no all-pairs on the Spark side, no corpus broadcast; one shuffle on
    the (band, segment) key, candidates refined with an integer popcount."""
    sig = _stage_or_checkpoint(
        spark, lambda: simhash(spark), "simhash_signatures",
        simhash_oracle_sql(), sf_dir, code=(simhash,),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftright(simhash, {15 * b}) % 32768").alias("segment"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    small = plan_choice.small(spark, "documents")
    buckets = plan_choice.scale_hint(
        sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
            "doc_id", F.col("bb.band").alias("band"), F.col("bb.segment").alias("segment")
        ),
        small,
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "segment"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    sa = plan_choice.scale_hint(
        sig.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a")), small
    )
    sb = plan_choice.scale_hint(
        sig.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b")), small
    )
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("hamming", F.expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_pairs_oracle_sql(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    """All-pairs form — complete by construction; the Spark side's banded
    plan must reproduce it exactly (see simhash_pairs docstring)."""
    return f"""
WITH sig AS ({simhash_oracle_sql()})
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}"""


EMB_LSH_BANDS = 4  # bands of N_PLANES/EMB_LSH_BANDS sign-projection planes


def _emb_band_buckets(spark: SparkSession) -> DataFrame:
    """Banded sign-random-projection buckets: a pair collides if it agrees
    on ALL planes of ANY band — the OR-of-ANDs recall amplification of
    MinHash banding applied to SRP (one 8-plane bucket would have ~2%
    recall at cosine 0.35).  Planes come from similarity._plane_coef, so
    both engines derive identical buckets."""
    from .similarity import N_PLANES, _plane_coef, DIM

    emb = spark.table("embeddings")
    per_band = N_PLANES // EMB_LSH_BANDS
    bands = []
    for bidx in range(EMB_LSH_BANDS):
        bucket = F.lit(0).cast("long")
        for j in range(per_band):
            plane = bidx * per_band + j
            coefs = F.array(*[F.lit(float(_plane_coef(plane, i))) for i in range(DIM)])
            dot = F.aggregate(
                F.zip_with(F.col("embedding"), coefs, lambda x, c: x.cast("double") * c),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bucket = bucket + F.when(dot > 0, F.lit(2 ** j)).otherwise(F.lit(0)).cast("long")
        bands.append(
            emb.select("vec_id", F.lit(bidx).alias("band"), bucket.alias("bucket"))
        )
    out = bands[0]
    for b in bands[1:]:
        out = out.unionByName(b)
    return out


def embedding_near_dup(
    spark: SparkSession, threshold: float = 0.35, exact: bool = False
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``exact=False`` (default, the scale path): banded sign-random-
    projection LSH candidates + exact cosine refine — candidate
    generation is a bucket-local equi-join (no all-pairs crossJoin, no
    corpus broadcast).  APPROXIMATE by design: pairs colliding in no band
    are not examined (recall ≈0.85 at cosine 0.35, →1 as cosine →1).

    ``exact=True`` (the round-1 documented baseline, O(n²)): all-pairs
    self-join above the threshold — complete, but quadratic in corpus
    size; only viable for small corpora or per-bucket refinement.
    """
    from .similarity import _dot_cols, _norm_col

    emb = spark.table("embeddings")
    if exact:
        cand = (
            emb.select(F.col("vec_id").alias("a"))
            .crossJoin(emb.select(F.col("vec_id").alias("b")))
            .filter(F.col("a") < F.col("b"))
        )
    else:
        buckets = plan_choice.scale_hint(
            _emb_band_buckets(spark), plan_choice.small(spark, "embeddings")
        )
        cand = (
            buckets.alias("x")
            .join(buckets.alias("y"), ["band", "bucket"])
            .filter(F.col("x.vec_id") < F.col("y.vec_id"))
            .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
            .distinct()
        )
    small = plan_choice.small(spark, "embeddings")
    ea = plan_choice.scale_hint(
        emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea")), small
    )
    eb = plan_choice.scale_hint(
        emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb")), small
    )
    pairs = cand.join(ea, "a").join(eb, "b")
    cos = _dot_cols("ea", "eb") / (_norm_col("ea") * _norm_col("eb"))
    return (
        pairs.select("a", "b", dround(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _emb_band_buckets_sql() -> str:
    from .similarity import N_PLANES, _plane_coef, DIM

    per_band = N_PLANES // EMB_LSH_BANDS
    selects = []
    for bidx in range(EMB_LSH_BANDS):
        parts = []
        for j in range(per_band):
            plane = bidx * per_band + j
            terms = " + ".join(
                f"(CAST(embedding[{i + 1}] AS DOUBLE) * {float(_plane_coef(plane, i))})"
                for i in range(DIM)
            )
            parts.append(f"CASE WHEN ({terms}) > 0 THEN {2 ** j} ELSE 0 END")
        selects.append(
            f"SELECT vec_id, {bidx} AS band, CAST({' + '.join(parts)} AS BIGINT) AS bucket FROM embeddings"
        )
    return " UNION ALL ".join(selects)


def embedding_near_dup_oracle_sql(threshold: float = 0.35) -> str:
    from .similarity import _dot_sql, _norm_sql

    cos = f"({_dot_sql('ea.embedding', 'eb.embedding')}) / ({_norm_sql('ea.embedding')} * {_norm_sql('eb.embedding')})"
    return f"""
WITH buckets AS ({_emb_band_buckets_sql()}),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
)
SELECT cand.a, cand.b,
       (FLOOR(({cos}) * 1000000.0 + 0.5) / 1000000.0) AS cosine
FROM cand
JOIN embeddings ea ON cand.a = ea.vec_id
JOIN embeddings eb ON cand.b = eb.vec_id
WHERE (FLOOR(({cos}) * 1000000.0 + 0.5) / 1000000.0) >= {threshold}"""


def embedding_near_dup_exact_oracle_sql(threshold: float = 0.35) -> str:
    from .similarity import _dot_sql, _norm_sql

    cos = f"({_dot_sql('ea.embedding', 'eb.embedding')}) / ({_norm_sql('ea.embedding')} * {_norm_sql('eb.embedding')})"
    return f"""
SELECT ea.vec_id AS a, eb.vec_id AS b,
       (FLOOR(({cos}) * 1000000.0 + 0.5) / 1000000.0) AS cosine
FROM embeddings ea JOIN embeddings eb ON ea.vec_id < eb.vec_id
WHERE (FLOOR(({cos}) * 1000000.0 + 0.5) / 1000000.0) >= {threshold}"""


# ---------------------------------------------------------------------------
# Near-dup components: pairs → clusters (distributed min-label propagation)
# ---------------------------------------------------------------------------

CC_MAX_ITER = 25


def near_dup_components(
    spark: SparkSession, sf_dir: str | None = None, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the step
    that turns PAIRS into dedup CLUSTERS a keep-list is cut from.

    Edges = n-gram-Jaccard pairs ∪ SimHash hamming-ball pairs (both
    deterministic and independently oracle-checked).  Components via
    distributed min-label propagation: each round joins labels across the
    symmetric edge list and every node adopts the min of its own and its
    neighbors' labels; a fixpoint is reached within the largest component
    diameter.  Per-round state goes through durable content-keyed stages
    (``_stage_or_checkpoint``) so a killed loop resumes from the last
    committed round instead of restarting — the standard hash-join CC
    loop (cf. the large-star/small-star formulation for web-scale
    graphs); no driver-side graph, state is one (node, label) row per
    doc.

    Oracle: DuckDB recursive CTE computing reachability, then MIN reachable
    id per node — the same fixpoint (transitive closure is Σ|component|²
    rows, fine at oracle SF)."""
    j = ngram_jaccard_pairs(spark, sf_dir=sf_dir).select("a", "b")
    s = simhash_pairs(spark, sf_dir=sf_dir).select("a", "b")
    edges = j.unionByName(s).distinct()
    # the key must track the edge producers' SPARK code too, not just
    # their oracle SQL: a Spark-side-only fix (cap join, rounding) would
    # otherwise keep serving pre-fix committed sym/label stages
    edges_key = _content_key(
        "cc_edges|" + ngram_jaccard_pairs_oracle_sql() + "|" + simhash_pairs_oracle_sql(),
        code=(shingles, ngram_jaccard_pairs, simhash, simhash_pairs),
    )
    return connected_components(
        spark, edges, max_iter=max_iter, sf_dir=sf_dir, content_key=edges_key,
        assume_small=plan_choice.small(spark, "documents"),
    ).select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = CC_MAX_ITER,
    sf_dir: str | None = None,
    content_key: str | None = None,
    assume_small: bool = True,
) -> DataFrame:
    """(node, label=min id in component) over an undirected edge list
    (a, b).  Hash-min propagation WITH pointer-doubling: each round every
    node (1) adopts the min of its neighbors' labels, then (2) adopts its
    label's label (path shortcutting) — the doubling step halves label-
    chain depth per round, so convergence is O(log diameter) rounds, not
    O(diameter): a 2^25-long near-dup chain converges inside
    CC_MAX_ITER=25 (plain one-hop propagation would abort on any chain
    longer than max_iter).

    Durability: with ``sf_dir`` + ``content_key`` the symmetric edge
    table and EVERY round's label table commit as content-keyed stages
    (round number folded into the key), so (a) state lives on disk, not
    in localCheckpoint's non-recomputable executor-memory blocks — at
    corpus scale the symmetric near-dup edge list is itself huge and one
    executor loss would otherwise abort the whole loop — and (b) a
    killed run RESUMES: already-committed rounds are read back instead
    of recomputed.  Without a data dir (ad-hoc edge frames) it falls
    back to eager localCheckpoint per round.

    Convergence test: each round's frame carries the previous label as
    ``__old``, so "did anything change" is one filter+count over the
    just-materialized table — no extra labels⋈new join per round.

    ``assume_small=False`` (callers gate it on corpus size, see
    ``plan_choice.small``) pins every per-round join to SHUFFLE_HASH: the
    label and symmetric-edge tables are node/edge-scale, and a stats
    misestimate that broadcast them would serialize every round on a
    driver-side hash-table build (or OOM outright at graph scale).
    Hints are applied at each USE site because the materialization
    boundary (stage read / localCheckpoint) starts a fresh plan that
    drops any hint set before it."""

    def mat(df: DataFrame, stage: str) -> DataFrame:
        if sf_dir and content_key is not None:
            return _stage_or_checkpoint(
                spark, df, stage, f"{content_key}|{stage}", sf_dir,
                code=(connected_components,),
            )
        return df.localCheckpoint(eager=True)

    sym = mat(
        edges.select("a", "b")
        .unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(),
        "cc_sym",
    )
    labels = mat(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        "cc_labels_r0",
    )
    for i in range(max_iter):
        lab_h = plan_choice.scale_hint(labels, assume_small)
        nbr = plan_choice.scale_hint(
            plan_choice.scale_hint(sym, assume_small)
            .join(lab_h.withColumnRenamed("node", "__n"), F.col("b") == F.col("__n"))
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min")),
            assume_small,
        )
        step = lab_h.join(nbr, F.col("node") == nbr.a, "left").select(
            "node",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias(
                "label"
            ),
        )
        # pointer doubling: label <- label's label
        parent = plan_choice.scale_hint(
            step.select(F.col("node").alias("__pn"), F.col("label").alias("__pl")),
            assume_small,
        )
        new = mat(
            step.join(parent, step.label == parent.__pn, "left").select(
                "node",
                "__old",
                F.least(F.col("label"), F.coalesce(F.col("__pl"), F.col("label"))).alias(
                    "label"
                ),
            ),
            f"cc_labels_r{i + 1}",
        )
        changed = new.filter(F.col("label") != F.col("__old")).count()
        labels = new.drop("__old")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"components did not converge in {max_iter} rounds")
    return labels


def near_dup_components_oracle_sql() -> str:
    return f"""
WITH RECURSIVE jp AS ({ngram_jaccard_pairs_oracle_sql()}),
sp AS ({simhash_pairs_oracle_sql()}),
edges AS (SELECT a, b FROM jp UNION SELECT a, b FROM sp),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
nodes AS (SELECT DISTINCT a AS node FROM sym),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, s.b FROM reach JOIN sym s ON reach.r = s.a
)
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node"""


# ---------------------------------------------------------------------------
# Dedup application: the kept (canonical) corpus
# ---------------------------------------------------------------------------

def dedup_keep_documents(spark: SparkSession) -> DataFrame:
    """The corpus AFTER exact dedup: one canonical doc per fingerprint
    group (the materialization step a training pipeline runs after the
    pair-finding passes) — a semi join of documents against the canonical
    id set."""
    keep = exact_dedup(spark).select(F.col("canonical_doc").alias("doc_id"))
    docs = spark.table("documents")
    return docs.join(keep, "doc_id", "left_semi").select("doc_id", "n_chars", "lang")


def dedup_keep_documents_oracle_sql() -> str:
    return f"""
SELECT doc_id, n_chars, lang
FROM documents d
WHERE EXISTS (
  SELECT 1 FROM ({exact_dedup_oracle_sql()}) __k
  WHERE __k.canonical_doc = d.doc_id
)"""


# ---------------------------------------------------------------------------
# The composed cleaning pipeline (what a training run actually executes)
# ---------------------------------------------------------------------------

def training_corpus(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The end-to-end corpus-cleaning pipeline, composed from the
    oracle-checked stages a training run chains:

    1. quality filter        — keep docs passing the score gate
       (text_ops.quality_score);
    2. exact dedup           — keep one canonical doc per fingerprint
       group (exact_dedup);
    3. near-dup clustering   — drop every non-canonical member of a
       near-duplicate component (near_dup_components: Jaccard ∪ SimHash
       pairs → connected components; the min-id doc represents each);
    4. PII scrub             — emit the masked-text witness (scrub_pii).

    Plan shape: three semi/anti joins on doc_id against doc-level keep/
    drop sets (each tiny next to the corpus) + one equi-join for the
    scrubbed projection — the corpus streams through once; no stage
    materializes more than doc-level rows."""
    from .text_ops import quality_score, scrub_pii

    docs = spark.table("documents")
    keep_quality = quality_score(spark).filter(F.col("keep")).select("doc_id")
    keep_exact = exact_dedup(spark).select(F.col("canonical_doc").alias("doc_id"))
    near_drop = (
        near_dup_components(spark, sf_dir=sf_dir)
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    kept = (
        docs.join(keep_quality, "doc_id", "left_semi")
        .join(keep_exact, "doc_id", "left_semi")
        .join(near_drop, "doc_id", "left_anti")
    )
    return kept.select("doc_id", "lang", "n_chars").join(
        scrub_pii(spark), "doc_id"
    ).select("doc_id", "lang", "n_chars", "n_emails", "n_urls", "scrubbed_md5")


def training_corpus_oracle_sql() -> str:
    from .text_ops import quality_score_oracle_sql, scrub_pii_oracle_sql

    return f"""
SELECT d.doc_id, d.lang, d.n_chars, s.n_emails, s.n_urls, s.scrubbed_md5
FROM documents d
JOIN ({scrub_pii_oracle_sql()}) s ON d.doc_id = s.doc_id
WHERE EXISTS (SELECT 1 FROM ({quality_score_oracle_sql()}) q
              WHERE q.doc_id = d.doc_id AND q.keep)
  AND EXISTS (SELECT 1 FROM ({exact_dedup_oracle_sql()}) e
              WHERE e.canonical_doc = d.doc_id)
  AND NOT EXISTS (SELECT 1 FROM ({near_dup_components_oracle_sql()}) c
                  WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component)"""


# ---------------------------------------------------------------------------
# Eval-set decontamination (benchmark-leak scrub before training)
# ---------------------------------------------------------------------------

def decontaminate(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Training docs that leak eval content: every *train*-split document
    sharing at least one RARE shingle with any *test*-split document,
    with the count of distinct shared shingles — the n-gram-overlap
    decontamination pass run before a corpus is handed to a trainer
    (same split contract as sampling.corpus_splits, so the eval set here
    IS the held-out set downstream).

    Rarity gate: only shingles with corpus document-frequency ≤ DF_CAP
    count as evidence — ubiquitous n-grams match everything and carry no
    leak signal (the same posting-list cap ngram_jaccard_pairs uses, and
    the reason real decontamination runs on long/rare n-grams).

    Scale shape: the distinct-shingle table is the SAME durable stage
    ngram_jaccard_pairs commits (content-keyed — a warm pipeline reuses
    it); all joins key on ``shingle`` with DF_CAP-bounded postings, the
    split is a pure map of doc_id — no skewed or quadratic stage."""
    from .sampling import DEFAULT_SEED, SPLIT_BOUNDS, _u_col

    lo, hi = SPLIT_BOUNDS
    sh = _stage_or_checkpoint(
        spark,
        lambda: shingles(spark).distinct(),
        "distinct_shingles",
        f"SELECT DISTINCT doc_id, shingle FROM ({shingles_sql()}) __s",
        sf_dir,
        code=(shingles,),
    )
    small = plan_choice.small(spark, "documents")
    rare = sh.join(
        plan_choice.scale_hint(
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= DF_CAP),
            small,
        ),
        "shingle",
    ).select("doc_id", "shingle")
    u = _u_col(seed=DEFAULT_SEED)
    split_of = spark.table("documents").select(
        "doc_id",
        "lang",
        F.when(u < F.lit(lo), F.lit("train"))
        .when(u < F.lit(hi), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    # split_of is corpus-sized (one row per document): every join side
    # derived from it rides the broadcast gate like the shingle tables
    eval_shingles = (
        rare.join(
            plan_choice.scale_hint(
                split_of.filter(F.col("split") == "test").select("doc_id"), small
            ),
            "doc_id",
            "left_semi",
        )
        .select("shingle")
        .distinct()
    )
    train_shingles = rare.join(
        plan_choice.scale_hint(
            split_of.filter(F.col("split") == "train").select("doc_id"), small
        ),
        "doc_id",
        "left_semi",
    )
    hits = (
        train_shingles.join(plan_choice.scale_hint(eval_shingles, small), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_shingles"))
    )
    return hits.join(
        plan_choice.scale_hint(split_of.select("doc_id", "lang"), small), "doc_id"
    ).select("doc_id", "lang", "n_eval_shingles")


def decontaminate_oracle_sql() -> str:
    from .sampling import DEFAULT_SEED, SPLIT_BOUNDS, _u_sql

    lo, hi = SPLIT_BOUNDS
    u = _u_sql(seed=DEFAULT_SEED)
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({shingles_sql()}) __s),
rare AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}) f
    ON sh.shingle = f.shingle
),
split_of AS (
  SELECT doc_id, lang,
         CASE WHEN ({u}) < {lo!r} THEN 'train'
              WHEN ({u}) < {hi!r} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
eval_sh AS (
  SELECT DISTINCT r.shingle FROM rare r
  JOIN split_of s ON r.doc_id = s.doc_id AND s.split = 'test'
)
SELECT r.doc_id, s.lang, COUNT(*) AS n_eval_shingles
FROM rare r
JOIN eval_sh e ON r.shingle = e.shingle
JOIN split_of s ON r.doc_id = s.doc_id AND s.split = 'train'
GROUP BY r.doc_id, s.lang"""


# ---------------------------------------------------------------------------
# Incremental ingest dedup (new batch vs the committed corpus)
# ---------------------------------------------------------------------------

INGEST_SEED = "gss-ingest-42"  # deterministic stand-in for an arrival batch
INGEST_FRACTION = 0.2


def dedup_incremental(
    spark: SparkSession,
    threshold: float = 0.5,
    sf_dir: str | None = None,
) -> DataFrame:
    """Classify an INCOMING batch of documents against the existing
    corpus — the steady-state form of dedup once a corpus is live
    (full-corpus pair-finding runs once; every later ingest only needs
    batch × corpus):

      * ``exact_dup`` — the batch doc's md5(text) already exists in the
        corpus (match_doc = the smallest such corpus doc);
      * ``near_dup``  — no exact twin, but LSH banding against the
        corpus signatures finds a candidate with est_jaccard ≥
        ``threshold`` (match_doc = smallest qualifying corpus doc);
      * ``novel``     — neither (match_doc NULL): safe to append.

    The batch is a deterministic hash split (INGEST_SEED) so the result
    is value-checkable; swap the predicate for an arrival-time filter in
    production.  Scale shape: the corpus side reads the SAME durable
    packed-signature stage minhash_lsh_pairs commits (warm ingest never
    recomputes corpus signatures); both probes are batch-sized — the
    exact probe is a hash semi-join on fingerprint, the near probe
    explodes ONLY batch+corpus band keys and joins batch × corpus (never
    corpus × corpus); above the broadcast gate every join is pinned
    shuffle-hash."""
    from .sampling import _u_col

    incoming = _u_col(seed=INGEST_SEED) < F.lit(INGEST_FRACTION)
    docs = spark.table("documents").select(
        "doc_id", F.md5("text").alias("fp"), incoming.alias("incoming")
    )
    small = plan_choice.small(spark, "documents")
    packed = _packed_signatures(spark, sf_dir)
    # the batch side reads the shared stage too (the split is over the
    # registered table, so its signatures are already committed).
    # ``incoming`` is a PURE FUNCTION of doc_id: it is computed ONCE per
    # document map-side on the stage scan, and the band explode CARRIES
    # the precomputed boolean — no mark-table join (that shuffles the
    # widest intermediate in the plan once more) and no per-band-row
    # re-hashing (the 12-term md5 chain on 16× the rows was measured as
    # the single most expensive stage of the ingest plan).
    marked_sigs = packed.withColumn(
        "incoming", _u_col(key="doc_id", seed=INGEST_SEED) < F.lit(INGEST_FRACTION)
    )
    batch_sigs = marked_sigs.filter(F.col("incoming")).select("doc_id", "sig")
    if sf_dir:
        # the service plan: corpus probe sides are the COMMITTED bucketed
        # index — per-ingest work is O(batch); only the batch side of
        # each probe join shuffles
        corpus_fp, corpus_buckets, corpus_sigs = ingest_probe_index(spark, sf_dir)
        batch_buckets = _band_buckets(batch_sigs)
    else:
        # ad-hoc plan over unregistered inputs: derive both sides inline,
        # splitting ONE band explode over the shared stage scan
        corpus_fp = (
            docs.filter(~F.col("incoming"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("exact_match"))
        )
        bx = _band_buckets(marked_sigs)
        batch_buckets = bx.filter(F.col("incoming")).select("doc_id", "bkey")
        corpus_buckets = bx.filter(~F.col("incoming")).select(
            F.col("doc_id").alias("cdoc"), "bkey"
        )
        corpus_sigs = marked_sigs.filter(~F.col("incoming")).select(
            F.col("doc_id").alias("cdoc"), F.col("sig").alias("sig_b")
        )
    return _classify_batch(
        docs.filter(F.col("incoming")).select("doc_id", "fp"),
        batch_sigs,
        corpus_fp,
        corpus_buckets,
        corpus_sigs,
        threshold,
        small,
        batch_buckets=batch_buckets,
    )


INGEST_INDEX_BUCKETS = 32  # production: size so one bucket ~ one executor core
# the ingest probe-index tables and the column each is bucketed (and
# sorted) on
INGEST_INDEX_TABLES = (
    ("ingest_fp_idx", "fp"),
    ("ingest_band_idx", "bkey"),
    ("ingest_sig_idx", "cdoc"),
)


def ingest_probe_index(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three corpus-side probe tables of the ingest-dedup service,
    committed as DURABLE BUCKETED stages — each clustered on its probe
    join key, so classifying a batch of arrivals shuffles ONLY the batch
    side (plan-asserted: the corpus scans are ``Bucketed: true`` with no
    Exchange above them):

      * ``ingest_fp_idx``   (fp, exact_match)   bucketed by fp
      * ``ingest_band_idx`` (cdoc, bkey)        bucketed by bkey
      * ``ingest_sig_idx``  (cdoc, sig_b)       bucketed by cdoc

    Built once per corpus from the shared packed-signature stage plus one
    fingerprint pass over the documents table; every later ingest (batch
    operator, streaming foreachBatch twin) reads the committed index.
    At 10^12 docs this is the difference between O(corpus) shuffle per
    batch and O(batch): the corpus is scanned but never re-partitioned.
    Content-keyed on the split semantics + signature definition + the
    producing code, so changing any of them rebuilds the index.
    Production note: appending `novel` arrivals extends the corpus; the
    index is then maintained incrementally (append the batch's rows to
    each table — bucket layout admits per-bucket appends) rather than
    rebuilt."""
    from ..sources import iceberg
    from .sampling import _u_col

    key = _ingest_index_key()
    incoming = _u_col(key="doc_id", seed=INGEST_SEED) < F.lit(INGEST_FRACTION)

    # the packed-signature subplan (~0.4 s of driver-serial plan build)
    # is built at most once, and only when an index table is cold
    packed = functools.cache(
        lambda: _packed_signatures(spark, sf_dir).filter(~incoming)
    )
    plans = (
        lambda: (
            spark.table("documents").filter(~incoming)
            .select("doc_id", F.md5("text").alias("fp"))
            .groupBy("fp")
            .agg(F.min("doc_id").alias("exact_match"))
        ),
        lambda: _band_buckets(packed()).select(F.col("doc_id").alias("cdoc"), "bkey"),
        lambda: packed().select(F.col("doc_id").alias("cdoc"), F.col("sig").alias("sig_b")),
    )
    fp_idx, band_idx, sig_idx = (
        iceberg.write_stage(
            spark, plan, name, sf_dir, content_key=key, force=force,
            bucket=(col, INGEST_INDEX_BUCKETS),
        )
        for plan, (name, col) in zip(plans, INGEST_INDEX_TABLES)
    )
    return fp_idx, band_idx, sig_idx


def _corpus_probe_side(marked: DataFrame, packed: DataFrame, small: bool):
    """The three corpus-side probe tables an ingest classifier needs,
    derived INLINE — the no-committed-index fallback of
    ingest_probe_index for plans over unregistered inputs: (fp → smallest
    owner), (cdoc, bkey), (cdoc, sig_b), all reading the shared packed
    signature stage."""
    corpus_fp = (
        marked.filter(~F.col("incoming"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_match"))
    )
    cmark = plan_choice.scale_hint(marked.select("doc_id", "incoming"), small)
    corpus_packed = (
        packed.join(cmark, "doc_id").filter(~F.col("incoming")).select("doc_id", "sig")
    )
    corpus_buckets = _band_buckets(corpus_packed).select(
        F.col("doc_id").alias("cdoc"), "bkey"
    )
    corpus_sigs = corpus_packed.select(
        F.col("doc_id").alias("cdoc"), F.col("sig").alias("sig_b")
    )
    return corpus_fp, corpus_buckets, corpus_sigs


def _classify_batch(
    batch_fp: DataFrame,
    batch_sigs: DataFrame,
    corpus_fp: DataFrame,
    corpus_buckets: DataFrame,
    corpus_sigs: DataFrame,
    threshold: float,
    small: bool,
    batch_buckets: DataFrame | None = None,
) -> DataFrame:
    """Classify (doc_id, fp) + (doc_id, sig) batch rows against the
    corpus probe tables: the shared core of dedup_incremental and the
    streaming ingest twin.  Joins are batch × corpus only — never
    corpus × corpus.  ``batch_buckets`` lets a caller that already
    exploded band keys (dedup_incremental splits one explode over the
    shared stage) pass them in instead of re-exploding.

    Join shape above the gate: every batch-vs-corpus probe is a join
    with the shuffle-hash hint on the BATCH side — the per-partition
    hash map is built from the batch (bounded), the corpus streams past
    it, and when the corpus side is a committed bucketed index
    (ingest_probe_index) it contributes NO exchange at all.  The exact
    probe is ONE direct left-outer shuffled-hash join with the batch as
    the BUILD side (Spark ≥3.3 supports LeftOuter+BuildLeft SHJ;
    plan-asserted) — r6 replaced the earlier inner + left-join-back
    form, which paid two extra batch exchanges for the same rows."""
    exact = (
        plan_choice.scale_hint(batch_fp, small)
        .join(corpus_fp, "fp", "left")
        .select("doc_id", "exact_match")
    )
    if batch_buckets is None:
        batch_buckets = _band_buckets(batch_sigs)
    cand = (
        plan_choice.scale_hint(batch_buckets, small)
        .join(corpus_buckets, ["bkey"])
        .select("doc_id", "cdoc")
        .distinct()
    )
    est = dround(_sig_agree() / F.lit(float(MINHASH_SEEDS)), 6)
    # re-hint the composite batch side before the corpus join: a strategy
    # hint is consumed by the join directly above it, so the cand hint
    # alone would leave the refine join free to broadcast/build corpus
    refine = plan_choice.scale_hint(cand, small).join(
        plan_choice.scale_hint(batch_sigs.select("doc_id", F.col("sig").alias("sig_a")), small),
        "doc_id",
    )
    near = (
        plan_choice.scale_hint(refine, small)
        .join(corpus_sigs, "cdoc")
        .withColumn("est", est)
        .filter(F.col("est") >= threshold)
        .groupBy("doc_id")
        .agg(F.min("cdoc").alias("near_match"))
    )
    # the near table is batch-doc-level — still corpus-growth-sized, so it
    # rides the same gate (a broadcast here is a driver collect of every
    # near-dup verdict in the ingest)
    out = exact.join(plan_choice.scale_hint(near, small), "doc_id", "left")
    status = (
        F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("novel"))
    )
    # no cast: match_doc inherits doc_id's type (MIN preserves it), so the
    # classifier works over any doc-id domain (the scale harness replicates
    # docs under string ids)
    return out.select(
        "doc_id",
        status.alias("status"),
        F.coalesce("exact_match", "near_match").alias("match_doc"),
    )


def classify_arrivals(
    spark: SparkSession,
    arrivals: DataFrame,
    threshold: float = 0.5,
    sf_dir: str | None = None,
) -> DataFrame:
    """Classify an ARBITRARY (doc_id, text) frame — e.g. one streaming
    micro-batch of newly arriving documents — against the committed
    corpus.  Unlike dedup_incremental (whose batch is a split of the
    registered table, signatures pre-committed), arrivals are outside
    the corpus: their fingerprints and minhash signatures are computed
    from text on the fly (map-side over the batch only); the corpus
    side still reads the shared durable stage."""
    from .sampling import _u_col

    small = plan_choice.small(spark, "documents")
    if sf_dir:
        # service posture: the micro-batch probes the committed bucketed
        # index — no corpus-side derivation or shuffle inside the trigger
        corpus_fp, corpus_buckets, corpus_sigs = ingest_probe_index(spark, sf_dir)
    else:
        incoming = _u_col(seed=INGEST_SEED) < F.lit(INGEST_FRACTION)
        marked = spark.table("documents").select(
            "doc_id", F.md5("text").alias("fp"), incoming.alias("incoming")
        )
        packed = _packed_signatures(spark, sf_dir)
        corpus_fp, corpus_buckets, corpus_sigs = _corpus_probe_side(
            marked, packed, small
        )
    batch_fp = arrivals.select("doc_id", F.md5("text").alias("fp"))
    # same packed element type as the committed stage (_packed_sig_expr):
    # the band-key hash is type-sensitive, so a differently-packed arrival
    # would silently never collide with the corpus index
    batch_sigs = minhash_signatures(spark, arrivals).selectExpr(
        "doc_id", f"{_packed_sig_expr()} AS sig"
    )
    return _classify_batch(
        batch_fp, batch_sigs, corpus_fp, corpus_buckets, corpus_sigs, threshold, small
    )


def _ingest_index_key() -> str:
    """Content key of the committed ingest probe index: split semantics +
    signature definition + bucket layout + producing code — shared by the
    index build (ingest_probe_index), the incremental maintainer
    (commit_arrivals) and compaction so all resolve the same committed
    stage directories.  The bucket layout is part of the identity because
    the parquet fallback keys a stage directory on the content key alone:
    without it, a changed bucket count would keep serving the old
    layout."""
    from .sampling import _u_col

    buckets = ",".join(col for _, col in INGEST_INDEX_TABLES)
    return _content_key(
        # sig-int-v2: the packed signature element type is part of the
        # index identity (array<int> since r6 — bkey hashes and sig_b
        # bytes both depend on it)
        f"ingest-index|{INGEST_SEED}|{INGEST_FRACTION}|"
        f"{MINHASH_SEEDS}x{LSH_BANDS}|sig-int-v2|"
        f"bucket:{buckets}x{INGEST_INDEX_BUCKETS}",
        code=(shingles, minhash_signatures, _band_buckets, _u_col),
    )


def commit_arrivals(
    spark: SparkSession,
    arrivals: DataFrame,
    sf_dir: str,
    classified: DataFrame | None = None,
    threshold: float = 0.5,
) -> dict:
    """Extend the committed ingest probe index with a batch's NOVEL
    arrivals — the maintenance half of the O(batch) ingest service
    (classify_arrivals is the read half): once a batch is classified,
    its novel documents join the corpus, and the next batch must see
    them as exact/near duplicates WITHOUT an index rebuild.

    Work is O(batch) end to end: the novel rows' fingerprints, band
    keys, and packed signatures are recomputed map-side over the batch
    only (same expressions the index builder used), batch-internal
    fingerprint duplicates collapse to their smallest doc_id (classify
    only checks batch × corpus, so an intra-batch twin pair is both
    'novel' — exactly one of them may own the fingerprint), and each
    probe table grows by a per-bucket append (≤ n_buckets files per
    table; Iceberg mode commits one append snapshot).  Returns the
    appended row counts per index table."""
    from ..sources import iceberg

    if classified is None:
        classified = classify_arrivals(spark, arrivals, threshold, sf_dir=sf_dir)
    novel = classified.filter(F.col("status") == "novel").select("doc_id")
    # pin the novel set BEFORE the first append: the classify plan reads
    # the very index tables being appended to, so re-executing it lazily
    # between appends would see the batch's own fp rows and reclassify
    # the batch as exact_dup — fp appended, band/sig silently skipped
    ndocs = arrivals.join(novel, "doc_id", "left_semi").localCheckpoint(eager=True)
    # one map-side pass for signatures; fingerprints collapse intra-batch
    fp_rows = (
        ndocs.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_match"))
    )
    # _packed_sig_expr: appended rows must pack the SAME element type as
    # the committed index (the band-key hash is type-sensitive)
    sigs = minhash_signatures(spark, ndocs).selectExpr(
        "doc_id AS cdoc", f"{_packed_sig_expr()} AS sig_b"
    )
    band_rows = _band_buckets(
        sigs.select(F.col("cdoc").alias("doc_id"), F.col("sig_b").alias("sig"))
    ).select(F.col("doc_id").alias("cdoc"), "bkey")
    key = _ingest_index_key()
    return {
        name: iceberg.append_stage_bucketed(spark, rows, name, sf_dir, content_key=key)
        for rows, (name, _) in zip((fp_rows, band_rows, sigs), INGEST_INDEX_TABLES)
    }


def compact_ingest_index(spark: SparkSession, sf_dir: str) -> dict:
    """Compact all three ingest probe-index tables back to one file per
    bucket (snapshots.compact_bucketed) — run after enough commit_arrivals
    triggers that per-bucket file counts matter.  Iceberg mode instead
    uses the engine's own ``rewrite_data_files`` maintenance procedure,
    so this wrapper is the parquet-fallback path only."""
    from ..sources import iceberg, snapshots

    if iceberg.iceberg_available(spark):
        raise NotImplementedError(
            "Iceberg catalogs compact via CALL rewrite_data_files; this "
            "wrapper serves the parquet fallback"
        )
    key = _ingest_index_key()
    return {
        name: snapshots.compact_bucketed(
            spark, iceberg.stage_path(None, name, sf_dir, key)
        )
        for name, _ in INGEST_INDEX_TABLES
    }


def dedup_incremental_oracle_sql(threshold: float = 0.5) -> str:
    from .sampling import _u_sql

    u = _u_sql(seed=INGEST_SEED)
    sig = minhash_signatures_sql()
    per_band = MINHASH_SEEDS // LSH_BANDS
    band_selects = []
    for bidx in range(LSH_BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh{bidx * per_band + j} AS STRING)" for j in range(per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {bidx} AS band, {cols} AS bucket FROM sig"
        )
    buckets = " UNION ALL ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(MINHASH_SEEDS)
    )
    est = f"(FLOOR((({agree}) / {float(MINHASH_SEEDS)}) * 1000000.0 + 0.5) / 1000000.0)"
    return f"""
WITH marked AS (
  SELECT doc_id, MD5(text) AS fp, (({u}) < {INGEST_FRACTION!r}) AS incoming
  FROM documents
),
sig AS ({sig}),
buckets AS ({buckets}),
exact AS (
  SELECT b.doc_id, (SELECT MIN(c.doc_id) FROM marked c
                    WHERE NOT c.incoming AND c.fp = b.fp) AS exact_match
  FROM marked b WHERE b.incoming
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS cdoc
  FROM buckets x
  JOIN marked mx ON x.doc_id = mx.doc_id AND mx.incoming
  JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
  JOIN marked my ON y.doc_id = my.doc_id AND NOT my.incoming
),
near AS (
  SELECT cand.doc_id, MIN(cand.cdoc) AS near_match
  FROM cand
  JOIN sig sa ON cand.doc_id = sa.doc_id
  JOIN sig sb ON cand.cdoc = sb.doc_id
  WHERE {est} >= {threshold}
  GROUP BY cand.doc_id
)
SELECT e.doc_id,
       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
            WHEN n.near_match IS NOT NULL THEN 'near_dup'
            ELSE 'novel' END AS status,
       CAST(COALESCE(e.exact_match, n.near_match) AS BIGINT) AS match_doc
FROM exact e LEFT JOIN near n ON e.doc_id = n.doc_id"""


# ---------------------------------------------------------------------------
# Cluster-representative selection (quality-argmax keep policy)
# ---------------------------------------------------------------------------

def cluster_representatives(
    spark: SparkSession, sf_dir: str | None = None
) -> DataFrame:
    """One representative per near-duplicate component, chosen by QUALITY
    (argmax quality_score, ties to the smallest doc_id) — the production
    keep policy when clusters mix a clean original with mangled copies:
    min-id (training_corpus's policy) keeps whichever copy was ingested
    first; this keeps the best one.

    Shape: components (doc-level) ⋈ quality (map-only projection) on
    doc_id, then ONE hash aggregation per component — ``max_by`` over a
    (quality, -doc_id) struct gives the argmax with the deterministic
    tie-break in the same shuffle that counts members; no window sort,
    partial aggregation map-side.  Component count ≪ corpus size, so the
    output is always the small end of whatever join consumes it."""
    from .text_ops import quality_score_col

    comps = near_dup_components(spark, sf_dir=sf_dir)
    docs = spark.table("documents").select(
        "doc_id", dround(quality_score_col(), 4).alias("quality")
    )
    m = comps.join(docs, "doc_id")
    return m.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by(
            "doc_id", F.struct(F.col("quality"), (-F.col("doc_id")).alias("nid"))
        ).alias("rep_doc"),
        F.max("quality").alias("rep_quality"),
    )


def cluster_representatives_oracle_sql() -> str:
    from .text_ops import quality_score_oracle_sql

    return f"""
WITH comps AS ({near_dup_components_oracle_sql()}),
q AS ({quality_score_oracle_sql()}),
m AS (
  SELECT c.component, c.doc_id, q.quality,
         COUNT(*) OVER (PARTITION BY c.component) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.doc_id ASC) AS rn
  FROM comps c JOIN q ON c.doc_id = q.doc_id
)
SELECT component, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS rep_doc, quality AS rep_quality
FROM m WHERE rn = 1"""
