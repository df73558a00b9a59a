"""Text analysis for training-data pipelines over the ``documents`` table:
language-ID (marker-word heuristic), quality scoring, token statistics,
document fingerprinting.

All expressions are engine-portable (replace-based substring counting,
split_part, md5, regexp_replace on simple classes), so every query here is
oracle-checked.  At 10^12 docs each is a map-only projection fused into
the columnar scan + one hash aggregation — no UDFs, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import dround

# marker tokens per language for the n-gram-style heuristic (space-padded
# so they match whole words mid-text)
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " und ", " die "],
    "zh": [" zh ", " shi ", " de "],
}


def _count_occurrences_sql(col: str, needle: str) -> str:
    """Portable substring-occurrence count via replace-length arithmetic."""
    esc = needle.replace("'", "''")
    return (
        f"((LENGTH({col}) - LENGTH(REPLACE({col}, '{esc}', ''))) / {len(needle)})"
    )


def token_count_sql(col: str = "text") -> str:
    """Whitespace token count (single-space-separated corpus)."""
    return f"(LENGTH({col}) - LENGTH(REPLACE({col}, ' ', '')) + 1)"


def text_stats(spark: SparkSession) -> DataFrame:
    """Per-document token/char statistics + punctuation and long-word
    ratios — the quality-signal primitives."""
    docs = spark.table("documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_tokens = F.expr(token_count_sql("text"))
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_computed"),
        n_tokens.alias("n_tokens"),
        dround(F.length("text").cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.expr(_count_occurrences_sql("text", "data")).cast("long").alias("kw_data_count"),
    )


def text_stats_oracle_sql() -> str:
    tk = token_count_sql("text")
    return f"""
SELECT doc_id, lang,
       LENGTH(text) AS n_chars_computed,
       {tk} AS n_tokens,
       (FLOOR((CAST(LENGTH(text) AS DOUBLE) / {tk}) * 10000.0 + 0.5) / 10000.0) AS avg_token_len,
       CAST({_count_occurrences_sql("text", "data")} AS BIGINT) AS kw_data_count
FROM documents"""


def _lang_score_exprs(col: str) -> dict[str, str]:
    padded = f"(' ' || {col} || ' ')"
    return {
        lang: " + ".join(_count_occurrences_sql(padded, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(spark: SparkSession) -> DataFrame:
    """Marker-based language identification; emits predicted language and
    whether it agrees with the labeled ``lang`` column."""
    docs = spark.table("documents")
    scores = _lang_score_exprs("text")
    langs = list(scores)
    score_cols = [F.expr(scores[lg]).alias(f"score_{lg}") for lg in langs]
    df = docs.select("doc_id", "lang", *score_cols)
    # argmax with deterministic tie-break on declaration order
    best = F.lit(langs[0])
    best_score = F.col(f"score_{langs[0]}")
    for lg in langs[1:]:
        cond = F.col(f"score_{lg}") > best_score
        best = F.when(cond, F.lit(lg)).otherwise(best)
        best_score = F.when(cond, F.col(f"score_{lg}")).otherwise(best_score)
    return df.select(
        "doc_id",
        "lang",
        best.alias("predicted_lang"),
        best_score.cast("long").alias("marker_hits"),
        (best == F.col("lang")).alias("agrees"),
    )


def lang_id_oracle_sql() -> str:
    scores = _lang_score_exprs("text")
    langs = list(scores)
    score_sel = ", ".join(f"({scores[lg]}) AS score_{lg}" for lg in langs)
    best = f"'{langs[0]}'"
    best_score = f"score_{langs[0]}"
    for lg in langs[1:]:
        best = f"CASE WHEN score_{lg} > {best_score} THEN '{lg}' ELSE {best} END"
        best_score = f"CASE WHEN score_{lg} > {best_score} THEN score_{lg} ELSE {best_score} END"
    return f"""
SELECT doc_id, lang,
       {best} AS predicted_lang,
       CAST({best_score} AS BIGINT) AS marker_hits,
       ({best}) = lang AS agrees
FROM (SELECT doc_id, lang, {score_sel} FROM documents) __scores"""


def quality_score_col():
    """The composite quality score as a pure column expression over
    (text, n_chars) — shared by the batch operator and the streaming
    ingest twin (streaming/stream_jobs.corpus_ingest_stream), so the two
    gates can never drift."""
    n_tokens = F.expr(token_count_sql("text"))
    uniq_ratio_proxy = F.expr(_count_occurrences_sql("text", "the"))
    return (
        F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)) * 0.5
        + F.when(F.col("n_chars") >= 100, 0.3).otherwise(0.0)
        + F.when(uniq_ratio_proxy <= 5, 0.2).otherwise(0.0)
    )


QUALITY_KEEP_THRESHOLD = 0.6


def quality_score(spark: SparkSession) -> DataFrame:
    """Composite quality score (length + lexical-diversity proxies) with a
    keep/drop verdict — the filter stage of a training-data pipeline."""
    docs = spark.table("documents")
    score = quality_score_col()
    return docs.select(
        "doc_id",
        dround(score, 4).alias("quality"),
        (score >= QUALITY_KEEP_THRESHOLD).alias("keep"),
    )


def quality_score_oracle_sql() -> str:
    tk = token_count_sql("text")
    the_count = _count_occurrences_sql("text", "the")
    score = (
        f"(LEAST(CAST({tk} AS DOUBLE) / 50.0, 1.0) * 0.5"
        f" + CASE WHEN n_chars >= 100 THEN 0.3 ELSE 0.0 END"
        f" + CASE WHEN {the_count} <= 5 THEN 0.2 ELSE 0.0 END)"
    )
    return f"""
SELECT doc_id,
       (FLOOR(({score}) * 10000.0 + 0.5) / 10000.0) AS quality,
       ({score}) >= 0.6 AS keep
FROM documents"""


def fingerprint_col():
    """The normalized md5 fingerprint as a pure column expression over
    ``text`` (shared with the streaming ingest twin)."""
    # lower() BEFORE stripping: the strip class is [^a-z0-9 ], so stripping
    # first would delete uppercase letters instead of folding them.
    return F.md5(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""))


def fingerprint(spark: SparkSession) -> DataFrame:
    """Normalized md5 document fingerprint (exact-dedup key)."""
    docs = spark.table("documents")
    return docs.select("doc_id", fingerprint_col().alias("fp"))


def fingerprint_oracle_sql() -> str:
    return """
SELECT doc_id, MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g')) AS fp
FROM documents"""


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint (order-sensitive, Rabin-Karp style)
# ---------------------------------------------------------------------------

ROLL_B = 1000003       # polynomial base (prime)
ROLL_P = 2147483629    # modulus (prime < 2^31 so products stay < 2^62)
ROLL_CAP = 64          # token cap (bounded per-doc work, like MAX_SHINGLES)


def rolling_fingerprint(spark: SparkSession) -> DataFrame:
    """Order-sensitive document fingerprint:
        H(doc) = Σ_i h(tok_i) · B^(n-i)  (mod P)
    over the first ≤CAP tokens, where h = 48 bits of engine md5.  Unlike
    the md5 fingerprint (a set/normalization hash), swapping two tokens
    changes H — the Rabin-Karp rolling form.  Expressed as one grouped SUM
    with the base powers joined from a CAP-row literal table, so both
    engines evaluate identical exact BIGINT arithmetic (a fold would not
    be portably expressible)."""
    from .dedup import _h48_fast

    powers = [(k, pow(ROLL_B, k, ROLL_P)) for k in range(ROLL_CAP)]
    pow_df = spark.createDataFrame(powers, "k int, bpow bigint")
    tk = token_count_sql("text")
    docs = spark.table("documents").repartition("doc_id")
    toks = (
        docs.select(
            "doc_id",
            F.least(F.expr(tk), F.lit(ROLL_CAP)).alias("n"),
            F.posexplode(F.slice(F.split(F.col("text"), " "), 1, ROLL_CAP)).alias(
                "pos", "tok"
            ),
        )
        .select(
            "doc_id", "n", (F.col("pos") + 1).alias("i"), F.md5("tok").alias("h")
        )
        .select(
            "doc_id", "n", "i",
            (F.expr(_h48_fast("h")) % ROLL_P).alias("hmod"),
        )
    )
    term = (F.col("hmod") * F.col("bpow")) % ROLL_P
    return (
        toks.join(F.broadcast(pow_df), toks.n - toks.i == pow_df.k)
        .groupBy("doc_id")
        .agg((F.sum(term) % ROLL_P).cast("long").alias("rolling_fp"),
             F.max("n").alias("n_tokens_hashed"))
    )


def rolling_fingerprint_oracle_sql() -> str:
    from .dedup import _h48_sql

    powers = ", ".join(
        f"({k}, {pow(ROLL_B, k, ROLL_P)})" for k in range(ROLL_CAP)
    )
    idx = ", ".join(f"({i})" for i in range(1, ROLL_CAP + 1))
    tk = token_count_sql("d.text")
    return f"""
WITH pows AS (SELECT * FROM (VALUES {powers}) AS __p(k, bpow)),
toks AS (
  SELECT d.doc_id,
         LEAST({tk}, {ROLL_CAP}) AS n,
         o.i,
         ({_h48_sql("MD5(split_part(d.text, ' ', o.i))")}) % {ROLL_P} AS hmod
  FROM documents d
  CROSS JOIN (SELECT * FROM (VALUES {idx}) AS __pos(i)) o
  WHERE o.i <= LEAST({tk}, {ROLL_CAP})
)
SELECT doc_id,
       CAST(SUM((hmod * bpow) % {ROLL_P}) % {ROLL_P} AS BIGINT) AS rolling_fp,
       MAX(n) AS n_tokens_hashed
FROM toks JOIN pows ON toks.n - toks.i = pows.k
GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

TOKEN_REP_CAP = 200  # bounded per-doc work, like dedup.MAX_SHINGLES


def token_repetition(spark: SparkSession) -> DataFrame:
    """Per-document repetition signals over the first TOKEN_REP_CAP
    whitespace tokens: top-token frequency ratio and distinct-token ratio
    — the Gopher-rule inputs that flag boilerplate / degenerate repetition
    for the quality-filter stage.  One explode + two hash aggs; the token
    cap bounds per-doc work at corpus scale."""
    docs = spark.table("documents").repartition("doc_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.slice(F.split(F.col("text"), " "), 1, TOKEN_REP_CAP)).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        dround(F.max("c").cast("double") / F.sum("c"), 6).alias("top_token_ratio"),
        dround(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias("distinct_ratio"),
    )


def token_repetition_oracle_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')[1:{TOKEN_REP_CAP}]) AS tok
  FROM documents
),
per_tok AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       (FLOOR((CAST(MAX(c) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5) / 1000000.0) AS top_token_ratio,
       (FLOOR((CAST(COUNT(*) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5) / 1000000.0) AS distinct_ratio
FROM per_tok
GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# PII scrubbing (training-data cleaning stage)
# ---------------------------------------------------------------------------

# simple alternation-free patterns chosen to mean the same thing to Java
# regex (Spark) and RE2 (DuckDB) — no lookaround, no backreferences
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"


def scrub_pii_cols() -> dict:
    """The scrub expressions over ``text`` as named pure columns (shared
    with the streaming ingest twin).

    Python-API regexp_extract_all throughout: F.expr with the pattern
    inside a single-quoted SQL literal would unescape \\. to a bare .
    (regex wildcard), silently loosening the count vs the masking regex."""
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return {
        "n_emails": F.size(
            F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0))
        ).cast("long"),
        "n_urls": F.size(
            F.regexp_extract_all(F.col("text"), F.lit(URL_RE), F.lit(0))
        ).cast("long"),
        "scrubbed_md5": F.md5(masked),
    }


def scrub_pii(spark: SparkSession) -> DataFrame:
    """PII-scrub pass: mask emails and URLs, report per-doc match counts
    and an md5 of the scrubbed text (the cross-engine equality witness —
    comparing full text would also work but hashes keep the result
    narrow).  Map-only projection fused into the scan; the masked corpus
    a real pipeline writes back is this same expression as a column."""
    docs = spark.table("documents")
    cols = scrub_pii_cols()
    return docs.select(
        "doc_id", *[cols[k].alias(k) for k in ("n_emails", "n_urls", "scrubbed_md5")]
    )


def scrub_pii_oracle_sql() -> str:
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{URL_RE}')) AS BIGINT) AS n_urls,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{URL_RE}', '<URL>', 'g')) AS scrubbed_md5
FROM documents"""


# ---------------------------------------------------------------------------
# Vocabulary building (the canonical Zipf-skewed aggregation)
# ---------------------------------------------------------------------------

VOCAB_TOKEN_CAP = 64  # bounded per-doc work, same posture as SIMHASH_TOKEN_CAP
VOCAB_TOPK = 100


def vocab_topk(spark: SparkSession, k: int = VOCAB_TOPK) -> DataFrame:
    """Corpus vocabulary: the top-k tokens by total occurrences.

    Token frequencies are Zipf-distributed — a handful of stopwords carry
    a huge share of all occurrences, making this THE canonical hot-key
    aggregation.  Counts therefore run through skew.salted_sum (partial
    agg on (token, salt) spreads each hot token over N_SALTS reducers,
    final agg merges) instead of a naive groupBy; the result is
    identical, the plan has no single-reducer hot key.  The final top-k
    is an ORDER BY + LIMIT over |vocab| rows (token, count) — takeOrdered
    on partials, no full sort.  Ties broken by token text for a total
    (cross-engine-stable) order."""
    from .skew import salted_sum

    docs = spark.table("documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"slice(split(text, ' '), 1, {VOCAB_TOKEN_CAP})")
        ).alias("token"),
    )
    counts = salted_sum(
        toks, "token", {"n_total": "*"}, salt_source=F.col("doc_id")
    )
    return counts.orderBy(F.desc("n_total"), F.asc("token")).limit(k)


def vocab_topk_oracle_sql(k: int = VOCAB_TOPK) -> str:
    idx = ", ".join(f"({i})" for i in range(1, VOCAB_TOKEN_CAP + 1))
    tk = token_count_sql("d.text")
    return f"""
SELECT token, COUNT(*) AS n_total
FROM (
  SELECT split_part(d.text, ' ', o.i) AS token
  FROM documents d
  CROSS JOIN (SELECT * FROM (VALUES {idx}) AS __pos(i)) o
  WHERE o.i <= {tk}
) __tok
GROUP BY token
ORDER BY n_total DESC, token ASC
LIMIT {k}"""


# ---------------------------------------------------------------------------
# Per-source corpus health report (domain-level filter inputs)
# ---------------------------------------------------------------------------

def corpus_source_report(spark: SparkSession) -> DataFrame:
    """Per-source corpus health: doc count, exact-dup rate, mean quality,
    mean token length — the domain-level statistics a cleaning pipeline
    aggregates before deciding per-source keep/downsample policies (the
    web-crawl analogue is per-domain stats).

    Determinism: double AVG is summation-order-dependent across engines,
    so means are computed as integer sums (quality pre-scaled ×10⁴, the
    same grid the quality score is rounded to) divided once — bit-stable
    on Spark and DuckDB.  One hash aggregation on ``source``; the only
    skew risk is a mega-source, which partial aggregation (map-side
    combine) absorbs since every measure is an algebraic sum/count."""
    docs = spark.table("documents")
    n_tokens = F.expr(token_count_sql("text")).cast("bigint")
    q_scaled = F.floor(quality_score_col() * F.lit(10000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    base = docs.select(
        "source",
        fingerprint_col().alias("fp"),
        n_tokens.alias("n_tokens"),
        q_scaled.alias("q"),
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("q").alias("q_sum"),
        F.sum("n_tokens").alias("tok_sum"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_unique",
        dround(
            (F.col("n_docs") - F.col("n_unique")).cast("double") / F.col("n_docs"),
            6,
        ).alias("dup_rate"),
        dround(F.col("q_sum").cast("double") / (F.col("n_docs") * 10000), 6).alias(
            "avg_quality"
        ),
        dround(F.col("tok_sum").cast("double") / F.col("n_docs"), 6).alias(
            "avg_tokens"
        ),
    )


def corpus_source_report_oracle_sql() -> str:
    tk = token_count_sql("text")
    the_count = _count_occurrences_sql("text", "the")
    score = (
        f"(LEAST(CAST({tk} AS DOUBLE) / 50.0, 1.0) * 0.5"
        f" + CASE WHEN n_chars >= 100 THEN 0.3 ELSE 0.0 END"
        f" + CASE WHEN {the_count} <= 5 THEN 0.2 ELSE 0.0 END)"
    )
    return f"""
WITH base AS (
  SELECT source,
         MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g')) AS fp,
         CAST({tk} AS BIGINT) AS n_tokens,
         CAST(FLOOR(({score}) * 10000.0 + 0.5) AS BIGINT) AS q
  FROM documents
),
agg AS (
  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
         CAST(SUM(q) AS BIGINT) AS q_sum, CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
  FROM base GROUP BY source
)
SELECT source, n_docs, n_unique,
       (FLOOR((CAST(n_docs - n_unique AS DOUBLE) / n_docs) * 1000000.0 + 0.5) / 1000000.0) AS dup_rate,
       (FLOOR((CAST(q_sum AS DOUBLE) / (n_docs * 10000)) * 1000000.0 + 0.5) / 1000000.0) AS avg_quality,
       (FLOOR((CAST(tok_sum AS DOUBLE) / n_docs) * 1000000.0 + 0.5) / 1000000.0) AS avg_tokens
FROM agg"""


# ---------------------------------------------------------------------------
# Token-window document chunking (context-length preprocessing)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64   # tokens per chunk (model context budget per example)
CHUNK_STRIDE = 48   # chunk start step; CHUNK_TOKENS - CHUNK_STRIDE = overlap


def chunk_documents(
    spark: SparkSession, size: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Fixed-token-window chunking with overlap — the step that turns a
    cleaned corpus into context-length training examples (cf. the
    reference's span extraction, which windows by character offsets:
    notebooks/02_build_h3_aggregates.py drives the same explode shape).

    One ``sequence`` of chunk starts per doc + ``posexplode``: chunk i
    covers tokens [1 + i*stride, 1 + i*stride + size) over the
    whitespace tokens, the trailing chunk is allowed short.  Map-side
    explode fused into the scan — output rows ≈ n_tokens/stride per doc,
    linear in corpus size, no shuffle at all (chunk identity is
    (doc_id, chunk_idx), no cross-doc state).  Chunk text is emitted as
    md5 so the row stays fixed-width at any chunk size."""
    docs = spark.table("documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(stride))
    exploded = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok"), size)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def chunk_documents_oracle_sql(
    size: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    # DuckDB list slicing toks[a:b] is 1-based inclusive and clamps at
    # len(toks) — same semantics as Spark slice(toks, start, size) at the
    # tail (verified: trailing short chunk hashes identically)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks), {stride})) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) // {stride} AS INTEGER) AS chunk_idx,
       CAST(start AS INTEGER) AS start_tok,
       CAST(len(toks[start : start + {size} - 1]) AS INTEGER) AS n_chunk_tokens,
       MD5(array_to_string(toks[start : start + {size} - 1], ' ')) AS chunk_md5
FROM s"""


# ---------------------------------------------------------------------------
# N-gram repetition & boilerplate signals (Gopher / C4-style rules)
# ---------------------------------------------------------------------------

# corpus-relative doc-frequency threshold for "boilerplate" n-grams, with
# an absolute floor so tiny corpora don't flag everything
BOILERPLATE_MIN_DF = 3
BOILERPLATE_DF_FRAC = 0.005


def dup_ngram_fraction(spark: SparkSession) -> DataFrame:
    """WITHIN-doc duplicated word-3-gram fraction — the Gopher repetition
    rule `token_repetition` doesn't cover (that one is unigram top-token /
    distinct ratios; degenerate texts can pass both while looping a
    multi-word phrase).  Instance- and character-weighted variants:
    `dup_ratio` = fraction of shingle instances whose shingle occurs ≥2×
    in the doc, `dup_char_ratio` the same weighted by shingle characters
    (the paper's formulation).

    Reuses dedup.shingles (≤MAX_SHINGLES per doc — bounded work).  Two
    hash aggs keyed by doc_id; all arithmetic is exact BIGINT until one
    final division, so the oracle hash is engine-exact.  Map-side combine
    absorbs any doc-length skew; no joins, no broadcast."""
    from .dedup import shingles

    per = (
        shingles(spark)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("doc_id", "c", F.length("shingle").alias("slen"))
    )
    dup_inst = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_shingles"),
        F.sum(dup_inst).alias("n_dup"),
        F.sum(F.col("c") * F.col("slen")).alias("chars_total"),
        F.sum(dup_inst * F.col("slen")).alias("chars_dup"),
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        dround(F.col("n_dup").cast("double") / F.col("n_shingles"), 6).alias(
            "dup_ratio"
        ),
        dround(F.col("chars_dup").cast("double") / F.col("chars_total"), 6).alias(
            "dup_char_ratio"
        ),
    )


def dup_ngram_fraction_oracle_sql() -> str:
    from .dedup import shingles_sql

    return f"""
WITH sh AS ({shingles_sql()}),
per AS (
  SELECT doc_id, shingle, COUNT(*) AS c, LENGTH(shingle) AS slen
  FROM sh GROUP BY doc_id, shingle
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
         CAST(SUM(c * slen) AS BIGINT) AS chars_total,
         CAST(SUM(CASE WHEN c > 1 THEN c * slen ELSE 0 END) AS BIGINT) AS chars_dup
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_dup,
       (FLOOR((CAST(n_dup AS DOUBLE) / n_shingles) * 1000000.0 + 0.5) / 1000000.0) AS dup_ratio,
       (FLOOR((CAST(chars_dup AS DOUBLE) / chars_total) * 1000000.0 + 0.5) / 1000000.0) AS dup_char_ratio
FROM agg"""


def boilerplate_ngrams(spark: SparkSession) -> DataFrame:
    """CROSS-doc boilerplate signal (the CCNet/C4 shared-line filter,
    re-expressed for a line-less corpus as shared word-3-grams): an
    n-gram is boilerplate when it appears in ≥ GREATEST(BOILERPLATE_MIN_DF,
    CEIL(BOILERPLATE_DF_FRAC × n_docs)) distinct documents; each doc
    reports what fraction of its shingle instances are boilerplate.

    Plan: shingles → 48-bit hash (the shuffle key is a BIGINT, not the
    n-gram text — same width cut as the dedup family) → per-(doc, h)
    counts → doc-frequency agg on h → threshold (corpus-relative, the
    n_docs scalar comes from a 1-row agg broadcast, no collect) →
    inner-join doc instances to the common set, left-join back per doc.
    Two shuffles (doc-side agg, df agg) + one join keyed on h; the
    common set is threshold-bounded.  At 10^12 docs the df agg is the
    canonical Zipf-skewed key — partial agg absorbs it (counts only)."""
    from .dedup import _h48_fast, shingles

    sh = shingles(spark).select(
        "doc_id", F.expr(_h48_fast("md5(shingle)")).alias("h")
    )
    doc_sh = sh.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    df_tab = doc_sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    n_docs = spark.table("documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    common = (
        df_tab.join(F.broadcast(n_docs))
        .filter(
            F.col("df")
            >= F.greatest(
                F.lit(BOILERPLATE_MIN_DF),
                F.ceil(F.lit(BOILERPLATE_DF_FRAC) * F.col("n_docs")),
            )
        )
        .select("h")
    )
    per_doc = doc_sh.groupBy("doc_id").agg(F.sum("c").alias("n_shingles"))
    boiler = (
        doc_sh.join(common, "h")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_boiler"))
    )
    out = per_doc.join(boiler, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        dround(F.col("n_boiler").cast("double") / F.col("n_shingles"), 6).alias(
            "boilerplate_ratio"
        ),
    )


def boilerplate_ngrams_oracle_sql() -> str:
    from .dedup import _h48_sql, shingles_sql

    return f"""
WITH sh AS (
  SELECT doc_id, ({_h48_sql("MD5(shingle)")}) AS h
  FROM ({shingles_sql()}) __sh
),
doc_sh AS (SELECT doc_id, h, COUNT(*) AS c FROM sh GROUP BY doc_id, h),
df_tab AS (SELECT h, COUNT(*) AS df FROM doc_sh GROUP BY h),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
common AS (
  SELECT h FROM df_tab, nd
  WHERE df >= GREATEST({BOILERPLATE_MIN_DF}, CEIL({BOILERPLATE_DF_FRAC} * n_docs))
),
per_doc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles FROM doc_sh GROUP BY doc_id),
boiler AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_boiler
  FROM doc_sh JOIN common USING (h) GROUP BY doc_id
)
SELECT p.doc_id, p.n_shingles,
       COALESCE(b.n_boiler, 0) AS n_boiler,
       (FLOOR((CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / p.n_shingles) * 1000000.0 + 0.5) / 1000000.0) AS boilerplate_ratio
FROM per_doc p LEFT JOIN boiler b ON p.doc_id = b.doc_id"""


# ---------------------------------------------------------------------------
# Unigram-LM surprisal (KenLM-style perplexity-filter proxy)
# ---------------------------------------------------------------------------


def unigram_surprisal(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Per-document mean unigram surprisal over the first TOKEN_REP_CAP
    tokens — the perplexity-filter stage of a training-data pipeline
    (production swaps the unigram model for KenLM; the plan shape is
    identical: corpus-model build, broadcast, per-token score, doc agg).
    Low surprisal ⇒ stopword soup; high ⇒ rare-token noise — both tails
    get filtered.

    Determinism across engines: per-token surprisal log2(N) - log2(c) is
    computed ONCE PER DISTINCT TOKEN on the (tiny) vocab dim and snapped
    to integer micros; doc aggregation then sums exact BIGINTs, so the
    result is independent of summation order (double SUM is not) and of
    engine log2 ulp error (the snap grid is ~10 orders coarser).  The
    vocab count agg is Zipf-hot, so it runs through skew.salted_sum; the
    vocab side of the scoring join is a LEFT join + OOV default
    (surprisal log2(N), i.e. count-1) — the exact shape a capped top-K
    vocabulary needs at corpus scale, where the full token dictionary
    would not broadcast.

    With ``sf_dir`` the scored vocab dim (token → micros) is a DURABLE
    content-keyed stage (same posture as the MinHash signature table):
    the LM build's corpus scan runs once per corpus, and warm scoring
    runs scan the corpus exactly once."""
    from .dedup import _stage_or_checkpoint

    docs = spark.table("documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"slice(split(text, ' '), 1, {TOKEN_REP_CAP})")
        ).alias("token"),
    )

    def vocab_plan() -> DataFrame:
        from .skew import salted_sum

        vocab = salted_sum(toks, "token", {"c": "*"}, salt_source=F.col("doc_id"))
        totals = vocab.agg(F.sum("c").alias("n_corpus"))
        micros = F.floor(
            (F.log2(F.col("n_corpus").cast("double")) - F.log2(F.col("c").cast("double")))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint")
        return vocab.join(F.broadcast(totals)).select(
            "token", micros.alias("micros"), "n_corpus"
        )

    if sf_dir:
        # a committed vocab dim is read back without building vocab_plan
        vocab_s = _stage_or_checkpoint(
            spark,
            vocab_plan,
            "unigram_vocab",
            f"unigram_vocab|cap={TOKEN_REP_CAP}",
            sf_dir=sf_dir,
            code=(unigram_surprisal,),
        )
    else:
        vocab_s = vocab_plan()
    # the corpus total N rides on every vocab row: one totals row
    totals = vocab_s.agg(F.max("n_corpus").alias("n_corpus"))
    # OOV default = count-1 surprisal, log2(N).  N comes from the
    # broadcast totals row, NOT the left-joined vocab columns — on a miss
    # those are NULL and a vocab-derived default would be NULL too
    # (latent until a capped vocabulary actually drops tokens).
    oov = F.floor(
        F.log2(F.col("n_corpus").cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    scored = (
        toks.join(F.broadcast(totals))
        .join(F.broadcast(vocab_s.drop("n_corpus")), "token", "left")
        .select("doc_id", F.coalesce(F.col("micros"), oov).alias("m"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("m").alias("sum_micros"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_micros",
        dround(
            F.col("sum_micros").cast("double") / F.lit(1000000.0) / F.col("n_tokens"),
            6,
        ).alias("avg_surprisal"),
    )


def unigram_surprisal_oracle_sql() -> str:
    idx = ", ".join(f"({i})" for i in range(1, TOKEN_REP_CAP + 1))
    tk = token_count_sql("d.text")
    return f"""
WITH toks AS (
  SELECT d.doc_id, split_part(d.text, ' ', o.i) AS token
  FROM documents d
  CROSS JOIN (SELECT * FROM (VALUES {idx}) AS __pos(i)) o
  WHERE o.i <= LEAST({tk}, {TOKEN_REP_CAP})
),
vocab AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
totals AS (SELECT CAST(SUM(c) AS BIGINT) AS n_corpus FROM vocab),
vocab_s AS (
  SELECT token,
         CAST(FLOOR((LOG2(CAST(n_corpus AS DOUBLE)) - LOG2(CAST(c AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS micros
  FROM vocab, totals
),
scored AS (
  SELECT t.doc_id,
         COALESCE(v.micros,
                  (SELECT CAST(FLOOR(LOG2(CAST(n_corpus AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) FROM totals)) AS m
  FROM toks t LEFT JOIN vocab_s v ON t.token = v.token
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(m) AS BIGINT) AS sum_micros
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_micros,
       (FLOOR((CAST(sum_micros AS DOUBLE) / 1000000.0 / n_tokens) * 1000000.0 + 0.5) / 1000000.0) AS avg_surprisal
FROM agg"""
