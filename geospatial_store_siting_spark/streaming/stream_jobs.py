"""Structured Streaming jobs — the streaming twins of operators/events_ops.

The reference has no streaming surface (SURVEY §2.9: "no streams"); the
engine adds it per the build brief.  Each job is readStream → transform →
writeStream with event-time semantics:

- ``windowed_counts_stream``  : watermarked 5-minute tumbling counts per
  event_type (late data beyond 10 minutes dropped);
- ``sessionize_stream``       : session_window(gap) aggregation — Spark's
  native stateful session operator;
- ``running_user_totals``     : custom stateful operator via
  ``applyInPandasWithState`` (per-user running totals with timeout) —
  the pattern for operators Spark lacks natively.

Tests drive them with the parquet events table as a bounded stream
(memory sink + processAllAvailable), asserting the windowed stream result
equals the batch twin — the exactly-once equivalence that matters.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources import snapshots

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _stream_dir(table: str, sf_dir: str) -> str:
    """Staging directory of a bounded file stream, committed through
    snapshots.commit (built once, reused by every later stream)."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(snapshots.DEFAULT_ROOT, f"stream_{table}_{sf_tag}")


def events_stream(spark: SparkSession, sf_dir: str, max_files: int = 1) -> DataFrame:
    """The events table as a bounded file stream.

    FileStreamSource requires a directory, so the single events.parquet is
    staged once into a 4-file directory — with maxFilesPerTrigger=1 the
    query processes 4 real micro-batches (incremental state, not one
    degenerate batch).  Files are RANGE-partitioned by ts so batches
    arrive in event-time order — otherwise the watermark races ahead on
    the first batch and drops everything else as late (exactly what a
    production replay from time-ordered partitions provides)."""
    stage_dir = _stream_dir("events", sf_dir)
    snapshots.commit(
        spark,
        lambda: spark.read.parquet(f"{sf_dir}/events.parquet").repartitionByRange(4, "ts"),
        stage_dir,
    )
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(stage_dir)
    )


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window counts (append-able after watermark)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native stateful sessionization via session_window.

    The watermark bounds session state: sessions closed for longer than
    the watermark are finalized and evicted.  Equivalence tests pass an
    effectively-infinite watermark so the final state equals the batch
    sessionizer; production uses a tight one so state stays bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start_epoch"),
            "n_events",
            "session_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals with
    applyInPandasWithState (Arrow-batched state machine — the escape hatch
    for stateful semantics Spark lacks natively)."""

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0.0
        n = state.get[1] if state.exists else 0
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [total], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, total_value double, n_events bigint",
        stateStructType="total double, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def purchase_view_join_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """STREAM-STREAM inner join: each purchase joined to the same user's
    views within the preceding ``window`` — the remaining streaming join
    family (windows/sessions/stateful are above).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the join state and evict expired rows:
    a view is held only until ``watermark`` past its event time.  The
    equivalence tests use an effectively-infinite watermark so the final
    result equals the batch inequality join; production uses a tight one
    so state stays bounded — the same convention as sessionize_stream."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")),
        "inner",
    )
    return joined.select(
        "purchase_event_id",
        F.col("p_user").alias("user_id"),
        "view_event_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("secs_between"),
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf in the Python worker
    (its state-server protocol is protobuf-encoded); this offline sandbox
    ships a broken google.protobuf, so the operator is capability-gated —
    same pattern as sources/multimodal.HAVE_MEDIA_LIBS."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` — the
    Spark 4.x arbitrary-state API (typed state variables, timers, TTL),
    successor to ``applyInPandasWithState`` above.  Same output contract
    as running_user_totals: the equivalence test asserts both against the
    batch groupBy when the runtime supports it (see tws_available).

    Scale notes: state is ONE ValueState row per user in the state store
    (RocksDB provider for large keyspaces); rows stream per key through
    Arrow just like the applyInPandasWithState form."""
    import pandas as pd  # noqa: F811  (worker-side import)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("totals", "total double, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                total, n = self._state.get()
            else:
                total, n = 0.0, 0
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self._state.update((total, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_value": [total], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, total_value double, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )


def run_to_memory(stream_df: DataFrame, name: str):
    """Drive a bounded stream to completion synchronously (test harness)."""
    q = (
        stream_df.writeStream.outputMode("complete" if name != "updates" else "update")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


# ---------------------------------------------------------------------------
# Streaming twin of the geotagged-span → tile-rollup pipeline stage
# ---------------------------------------------------------------------------

def documents_stream(spark: SparkSession, sf_dir: str, max_files: int = 1) -> DataFrame:
    """The documents table as a bounded 4-file stream (same staging trick
    as events_stream; order doesn't matter here — the rollup is not
    event-time windowed)."""
    stage_dir = _stream_dir("documents", sf_dir)
    staged = snapshots.commit(
        spark, lambda: spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4), stage_dir
    )
    return (
        spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(stage_dir)
    )


def _geo_span_stream(docs: DataFrame) -> DataFrame:
    """Stateless geo-span extraction shared by the streaming doc twins:
    span explode → geo parse → expression-form hex encode at res 8
    (temp-view SQL isn't available on streaming frames).  Map-only —
    streamable under any output mode."""
    from ..operators import rings
    from ..operators.knn import _with_coarse_qr
    from ..sources.documents import MAX_SPANS, span_fields_sql

    f = span_fields_sql("doc_id", "i", "text")
    spans = (
        docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(MAX_SPANS - 1))).alias("i"),
        )
        .filter(F.col("i") < 4 + F.col("doc_id") % 5)
        .select(
            "doc_id",
            F.col("i").alias("span_offset"),
            F.expr(f["kind"]).alias("kind"),
            F.expr(f["text"]).alias("text"),
        )
        .filter(F.col("kind") == "geo")
        .select(
            "doc_id",
            "span_offset",
            F.expr("CAST(split_part(text, ',', 1) AS DOUBLE)").alias("lat"),
            F.expr("CAST(split_part(text, ',', 2) AS DOUBLE)").alias("lon"),
        )
    )
    enc = _with_coarse_qr(spans, res=8)
    return enc.select(
        "doc_id", "lat", "lon",
        rings.neighbor_cell_col(F.col("cq"), F.col("cr"), 8).alias("hex_id"),
    )


def doc_cells_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of sources.documents.doc_cells: span explode →
    geo-span parse → hex encode → per-cell doc/span counts.

    The extraction is STATELESS (generator + expressions — streamable
    map-only), the rollup a streaming aggregation.  countDistinct isn't
    supported in streaming aggs — approx_count_distinct stands in for
    n_docs (exact n_spans is compared in the equivalence test)."""
    from ..functions import hex_sql

    enc = _geo_span_stream(docs)
    metro = hex_sql.nearest_metro_case_sql("lat", "lon")
    return (
        enc.select("doc_id", "hex_id", F.expr(metro).alias("metro"))
        .groupBy("hex_id", "metro")
        .agg(
            F.approx_count_distinct("doc_id").alias("approx_docs"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


def doc_zones_stream(spark, docs: DataFrame) -> DataFrame:
    """Streaming twin of operators.pip.doc_zone_counts: geo spans →
    broadcast cell-cover join → per-(metro, zone) rollup.

    The cover join is a stream-static broadcast equi-join — stateless on
    the stream side, so the only streaming state is the final rollup's
    aggregation.  Same first-match semantics as the batch operator (both
    are rollups over `pip_join`)."""
    from ..operators.pip import pip_join

    pts = _geo_span_stream(docs).select(
        "doc_id", "lat", "lon", F.col("hex_id").alias("h3_res8")
    )
    return (
        pip_join(spark, points=pts)
        .filter(F.col("poly_id") >= 0)
        .groupBy(F.col("poly_metro").alias("metro"), F.col("poly_zone").alias("zone"))
        .agg(
            F.approx_count_distinct("doc_id").alias("approx_docs"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


def corpus_ingest_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the training-corpus front end
    (operators/dedup.training_corpus stages 1, 2, 4): quality gate →
    exact dedup on the normalized fingerprint → PII scrub — the shape of
    a continuous corpus-ingest service feeding a training lake.

    Streamability per stage: the quality gate and the scrub are pure
    column maps (fused into the source scan); exact dedup is
    ``dropDuplicates(["fp"])`` whose state is ONE row per distinct
    fingerprint ever seen — the canonical streaming-dedup state shape
    (RocksDB-backed state store at corpus scale; with an ingest-time
    column, dropDuplicatesWithinWatermark bounds the state to the late
    window instead).  The near-dup clustering stage is deliberately NOT
    here: it is a global iterative fixpoint, which production runs as the
    periodic batch compaction over the streamed-in corpus (the same
    lambda split the other twins in this module document).

    Semantics vs the batch twin: the batch pipeline keeps min(doc_id) per
    fingerprint group; the stream keeps the FIRST ARRIVAL.  The kept
    fingerprint SET is identical — that is the equivalence the test
    asserts; canonical choice is representation, not content.

    Column expressions are imported from operators/text_ops (the same
    objects the batch operators select), so the two paths cannot drift."""
    from ..operators.text_ops import (
        QUALITY_KEEP_THRESHOLD,
        fingerprint_col,
        quality_score_col,
        scrub_pii_cols,
    )

    kept = docs.filter(quality_score_col() >= QUALITY_KEEP_THRESHOLD)
    deduped = kept.withColumn("fp", fingerprint_col()).dropDuplicates(["fp"])
    cols = scrub_pii_cols()
    return deduped.select(
        "doc_id",
        "fp",
        "lang",
        "n_chars",
        *[cols[k].alias(k) for k in ("n_emails", "n_urls", "scrubbed_md5")],
    )


# ---------------------------------------------------------------------------
# Streaming twin of the incremental ingest dedup (foreachBatch service)
# ---------------------------------------------------------------------------

def incremental_dedup_stream(
    spark: SparkSession,
    docs: DataFrame,
    sf_dir: str | None = None,
    threshold: float = 0.5,
):
    """Streaming twin of operators/dedup.dedup_incremental: a foreachBatch
    ingest-dedup service.  ``docs`` streams ONLY the arriving documents
    (the same deterministic INGEST split the batch operator uses); every
    micro-batch is classified exact_dup / near_dup / novel against the
    COMMITTED corpus via dedup.classify_arrivals — fingerprints and
    minhash signatures for the arrivals are computed map-side on the
    micro-batch, while the corpus probe side reads the shared durable
    packed-signature stage (warm: parquet read, never a corpus recompute).

    foreachBatch rather than a streaming join: the LSH classifier is a
    multi-join DAG (band join + signature refine + fingerprint probe)
    over a FIXED corpus side — batch semantics per trigger, no streaming
    state.  The batch-equivalence test asserts the union of micro-batch
    outputs is row-identical to dedup_incremental's one-shot result.
    Production would append `novel` rows (and their signatures) to the
    corpus + signature stage per trigger, making the service
    self-extending; kept out of the twin so it stays equal to the
    value-checked batch operator.

    Runs synchronously to completion (availableNow) and returns the
    accumulated classifications as one DataFrame."""
    import pandas as pd

    from ..operators import dedup

    collected: list[pd.DataFrame] = []

    def classify(batch_df: DataFrame, batch_id: int) -> None:
        # the micro-batch frame belongs to the stream's CLONED session —
        # plans built against it (parameterized spark.sql, table lookups)
        # must use that session, not the outer one
        s = batch_df.sparkSession
        out = dedup.classify_arrivals(
            s, batch_df.select("doc_id", "text"), threshold, sf_dir
        )
        # test-scale sink: collect per-trigger verdicts on the driver;
        # production: .writeTo(lake_table).append() per trigger
        collected.append(out.toPandas())

    q = (
        docs.writeStream.foreachBatch(classify)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    allv = pd.concat(collected, ignore_index=True)
    rows = [
        (
            int(r.doc_id),
            str(r.status),
            None if pd.isna(r.match_doc) else int(r.match_doc),
        )
        for r in allv.itertuples()
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, status string, match_doc bigint"
    )


def self_extending_ingest_stream(
    spark: SparkSession,
    docs: DataFrame,
    sf_dir: str,
    threshold: float = 0.5,
):
    """The SELF-EXTENDING form of incremental_dedup_stream: every
    micro-batch is classified against the committed corpus probe index,
    then its `novel` documents are COMMITTED to that index
    (operators/dedup.commit_arrivals: per-bucket appends, O(batch)) —
    so a duplicate arriving in a LATER trigger dedups against a novel
    document from an EARLIER one.  This is the production ingest loop;
    the non-extending twin exists separately because its output is
    value-checked against the one-shot batch operator (which sees no
    cross-trigger growth).

    State lives entirely in the committed index tables — a crashed query
    resumes from the last committed append (plus the stream's own file
    checkpoint), not from in-memory state.  Verdicts are pinned per
    trigger BEFORE the commit, so each doc's classification reflects the
    corpus as of its own arrival."""
    import pandas as pd

    from ..operators import dedup

    collected: list[pd.DataFrame] = []

    def classify_and_commit(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        arrivals = batch_df.select("doc_id", "text")
        out = dedup.classify_arrivals(s, arrivals, threshold, sf_dir)
        # pin verdicts first: commit_arrivals re-executes the classify
        # plan (against the still-unextended index) when it pins the
        # novel set, then appends — order keeps the two views identical
        collected.append(out.toPandas())
        dedup.commit_arrivals(s, arrivals, sf_dir, classified=out,
                              threshold=threshold)

    q = (
        docs.writeStream.foreachBatch(classify_and_commit)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    allv = pd.concat(collected, ignore_index=True)
    rows = [
        (
            int(r.doc_id),
            str(r.status),
            None if pd.isna(r.match_doc) else int(r.match_doc),
        )
        for r in allv.itertuples()
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, status string, match_doc bigint"
    )


def catchment_stream(spark: SparkSession, sites: DataFrame) -> DataFrame:
    """Streaming twin of operators/isochrone.catchment_reach: candidate
    sites arrive as a stream; each micro-batch's cost isochrones are
    expanded per trigger against the static congestion grid.

    foreachBatch rather than a streaming join: the expansion is a
    bounded ITERATIVE loop (H Bellman-Ford rounds), not a single plan —
    but it is per-site and reads only static dims, so the union of
    micro-batch outputs equals the one-shot batch result row-for-row
    (asserted by the batch-equivalence test).  No streaming state at
    all: the production shape is "new candidates → their trade areas
    appended to the lake per trigger".

    Runs synchronously (availableNow) and returns the accumulated reach
    rows as one DataFrame."""
    import pandas as pd

    from ..operators import isochrone

    collected: list[pd.DataFrame] = []

    def expand(batch_df: DataFrame, batch_id: int) -> None:
        # micro-batch frames live in the stream's cloned session; build
        # the expansion (and its hex_grid lookup) there
        s = batch_df.sparkSession
        out = isochrone.catchment_reach(s, sites_df=batch_df)
        collected.append(out.toPandas())

    q = (
        sites.writeStream.foreachBatch(expand)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    allv = pd.concat(collected, ignore_index=True)
    rows = [
        (int(r.site_id), int(r.cell_id), int(r.cost_min))
        for r in allv.itertuples()
    ]
    return spark.createDataFrame(
        rows, "site_id bigint, cell_id bigint, cost_min bigint"
    )


def st_bins_stream(events: DataFrame, sites: DataFrame) -> DataFrame:
    """Streaming twin of the space-time cube's binning stage
    (operators/hotspots._bins_sql): arriving events stream-static join
    the sites dim for geography, then a watermarked 1-day tumbling
    window counts per (cell, day) — a pure Structured Streaming
    aggregation (no foreachBatch: unlike the iterative isochrone twin,
    binning IS one windowed plan).  Day ids come from the window start
    (UTC session ⇒ midnight-aligned windows), so the stream's bins equal
    the batch ``FLOOR(unix_timestamp/86400)`` bins row-for-row FOR
    EVENTS ARRIVING WITHIN THE 1-DAY WATERMARK — the batch-equivalence
    test asserts it on near-ordered replay.  Under real disorder the
    watermark DROPS events more than a day late, which the batch twin
    still counts: treat the stream as the batch's equal only inside the
    lateness bound, not as an exact substitute under arbitrary disorder.

    State at scale: per-(cell, day) running counts, dropped once the
    1-day watermark passes — bounded by active cells × ~2 days, the
    RocksDB-friendly shape."""
    dim = sites.select(
        F.col("site_id").alias("user_id"), "h3_res8", "q", "r"
    )
    return (
        events.withWatermark("ts", "1 day")
        .join(dim, "user_id")
        .groupBy("h3_res8", "q", "r", F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("h3_res8").alias("cell_id"),
            "q",
            "r",
            (F.unix_timestamp(F.col("w.start")) / F.lit(86400))
            .cast("long")
            .alias("day"),
            F.col("n").cast("long").alias("n"),
        )
    )
