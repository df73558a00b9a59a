"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Every operator below is a SURVEY.md §2 entry re-expressed
Spark-first; oracles are ANSI SQL over the same parquet tables using the
engine's dialect-neutral hex-codec SQL (bit-identical tile assignments).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from geospatial_store_siting_spark.operators import (
    app_queries,
    dedup,
    dev_signals,
    encode,
    events_ops,
    features,
    hotspots,
    huff,
    isochrone,
    knn,
    ml,
    pip,
    quality,
    relational,
    retrieval,
    rings,
    sampling,
    scoring,
    similarity,
    sketches,
    skew,
    text_ops,
    zonal,
)
from geospatial_store_siting_spark.sources import (
    documents,
    layout,
    multimodal,
    tables,
)


def _load(spark: SparkSession, sf_dir: str) -> None:
    # The driver owns the session; these are runtime-mutable confs that the
    # engine relies on (AQE coalescing keeps tiny-SF runs from spraying 200
    # shuffle tasks; UTC pins timestamp comparisons against the oracle).
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tables.load_all(spark, sf_dir)


def _quality_gate_df(spark: SparkSession) -> DataFrame:
    """Quality-gate report flattened to rows (rows-only check: the gate is
    a multi-output report, not a relational result)."""
    report = quality.run_gate(spark, raise_on_fail=False)
    rows = [
        (r["table"], "schema", bool(r["passes"]), "")
        for r in report["schema"]
    ] + [
        (r["table"], "quality", bool(r["passes"]), ";".join(r["failures"]))
        for r in report["quality"]
    ]
    rows.append(("__cross__", "fk", report["fk"]["orphans"] == 0, ""))
    rows.append(("__cross__", "gate", bool(report["passes"]), ""))
    return spark.createDataFrame(
        rows, "table string, check string, passes boolean, detail string"
    )


# Single source of truth for the write-path demo: the writer appends these
# events and the oracle derives its expected latest-wins rows from the SAME
# list (see _flagged_latest_oracle_sql) — edit here, both sides follow.
FLAGGED_EVENTS = [  # (site_id, status, note, seq)
    (42, "shortlisted", "good corner", 1),
    (42, "rejected", "lease fell through", 2),
    (77, "shortlisted", "", 1),
]


def _flagged_sites_demo(spark: SparkSession) -> DataFrame:
    """Write-back sink surface: append flag events to a fresh scratch log,
    read back latest-wins (deterministic content, fresh dir per call)."""
    import tempfile

    path = tempfile.mkdtemp(prefix="flagged_") + "/log"
    for site_id, status, note, seq in FLAGGED_EVENTS:
        app_queries.flag_site(spark, path, site_id, status, note, seq=seq)
    return app_queries.flagged_sites(spark, path)


def _flagged_latest_oracle_sql() -> str:
    """Latest-wins (max seq per site) computed in Python over FLAGGED_EVENTS,
    rendered as a VALUES literal — an independent recomputation of what
    flagged_sites() must return, not a hand-kept fixture."""
    latest: dict[int, tuple] = {}
    for ev in FLAGGED_EVENTS:
        if ev[0] not in latest or ev[3] > latest[ev[0]][3]:
            latest[ev[0]] = ev
    rows = ",\n             ".join(
        "({}, '{}', '{}', {})".format(*latest[k]) for k in sorted(latest)
    )
    return f"""
SELECT CAST(site_id AS BIGINT) AS site_id, status, note, CAST(seq AS BIGINT) AS seq
FROM (VALUES {rows}) AS __f(site_id, status, note, seq)"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full hex-feature-join table at sf0.001."""
    _load(spark, "/root/testdata/sf0.001")
    return features.location_features(spark)


def _q(fn) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _load(spark, sf_dir)
        return fn(spark)

    return run


def _qsf(fn) -> Callable[[SparkSession, str], DataFrame]:
    """Like _q but forwards sf_dir — for operators that stage durable
    intermediates (content-keyed snapshots under the engine's stage root)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _load(spark, sf_dir)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # three declared PIP names, one broadcast pip_join (they share an oracle)
    pip_assignments = _q(lambda s: pip.pip_join(s).select("site_id", "poly_id", "poly_zone"))
    return {
        # --- hex feature engineering (SURVEY §2.3 J1-J9, §2.4) ---
        "hex_feature_join": _q(features.location_features),
        "hex_feature_join_dev": _q(lambda s: features.location_features(s, dev_signals=True)),
        "demographics_ring1": _q(lambda s: features.demographics_ring(s, 1)),
        "demographics_ring2": _q(lambda s: features.demographics_ring(s, 2)),
        "traffic_ring1": _q(lambda s: features.traffic_ring(s, 1)),
        "competition_ring1": _q(lambda s: features.competition_ring(s, 1)),
        "competition_ring3": _q(lambda s: features.competition_ring(s, 3)),
        "competition_distance": _q(features.competition_distance),
        "competition_distance_windowed": _q(features.competition_distance_windowed),
        "poi_ring1": _q(lambda s: features.poi_ring(s, 1)),
        "daytime_pop_ring1": _q(lambda s: features.daytime_population_ring(s, 1)),
        "school_ring2": _q(lambda s: features.school_ring(s, 2)),
        "property_features": _q(features.property_features),
        "cannibalization": _q(features.cannibalization),
        "cannibalization_windowed": _q(features.cannibalization_windowed),
        # --- development-signal H3 layer (Phase-3 module) ---
        "dev_dominant_county": _q(dev_signals.dominant_county),
        "dev_signals_h3": _q(dev_signals.dev_signals_by_h3),
        "dev_signal_ring1": _q(lambda s: dev_signals.dev_signal_ring(s, 1)),
        # --- Huff gravity model (§2.9 G5) ---
        "huff_features": _q(huff.huff_features),
        # --- scoring / windows (§2.5 W1-W4) ---
        "score_candidates": _q(scoring.score_candidates),
        "top5_per_metro": _q(scoring.top_candidates_per_metro),
        "metro_summary": _q(scoring.metro_summary),
        "phase_summary": _q(scoring.phase_summary),
        # --- interleaved documents: geotagged-span extraction (input_hint) ---
        "geotagged_spans": _q(documents.geotagged_spans),
        "doc_cells": _q(documents.doc_cells),
        "doc_tiles": _q(documents.doc_tiles),
        # --- text analysis ---
        "text_stats": _q(text_ops.text_stats),
        "lang_id": _q(text_ops.lang_id),
        "quality_score": _q(text_ops.quality_score),
        "doc_fingerprint": _q(text_ops.fingerprint),
        "doc_rolling_fingerprint": _q(text_ops.rolling_fingerprint),
        "token_repetition": _q(text_ops.token_repetition),
        "scrub_pii": _q(text_ops.scrub_pii),
        "vocab_topk": _q(text_ops.vocab_topk),
        "corpus_source_report": _q(text_ops.corpus_source_report),
        "chunk_documents": _q(text_ops.chunk_documents),
        "dup_ngram_fraction": _q(text_ops.dup_ngram_fraction),
        "boilerplate_ngrams": _q(text_ops.boilerplate_ngrams),
        "unigram_surprisal": _qsf(text_ops.unigram_surprisal),
        # --- deterministic corpus sampling (training-recipe ops) ---
        "sample_hash": _q(sampling.hash_sample),
        "sample_stratified": _q(sampling.stratified_sample),
        "sample_group_k": _q(sampling.group_sample),
        "training_mix": _q(sampling.training_mix),
        "corpus_splits": _q(sampling.corpus_splits),
        "pack_sequences": _q(sampling.pack_sequences),
        # --- deduplication ---
        "dedup_exact": _q(dedup.exact_dedup),
        "dedup_keep_documents": _q(dedup.dedup_keep_documents),
        "dedup_ngram_jaccard": _qsf(lambda s, d: dedup.ngram_jaccard_pairs(s, sf_dir=d)),
        "dedup_minhash_lsh": _qsf(lambda s, d: dedup.minhash_lsh_pairs(s, sf_dir=d)),
        "dedup_simhash": _q(dedup.simhash),
        "dedup_simhash_pairs": _qsf(lambda s, d: dedup.simhash_pairs(s, sf_dir=d)),
        "dedup_components": _qsf(lambda s, d: dedup.near_dup_components(s, sf_dir=d)),
        "dedup_cluster_representatives": _qsf(
            lambda s, d: dedup.cluster_representatives(s, sf_dir=d)
        ),
        "training_corpus": _qsf(lambda s, d: dedup.training_corpus(s, sf_dir=d)),
        "decontaminate": _qsf(lambda s, d: dedup.decontaminate(s, sf_dir=d)),
        "decontaminate_bloom": _qsf(
            lambda s, d: sketches.decontaminate_bloom(s, sf_dir=d)
        ),
        "dedup_incremental": _qsf(lambda s, d: dedup.dedup_incremental(s, sf_dir=d)),
        # APPROXIMATE (banded-LSH candidates, recall ≈0.85 at cosine 0.35,
        # →1 as cosine →1); the complete-baseline is _exact below.
        "dedup_embedding_cosine": _q(dedup.embedding_near_dup),
        "dedup_embedding_cosine_exact": _q(
            lambda s: dedup.embedding_near_dup(s, exact=True)
        ),
        # --- mergeable sketches (KMV / count-min; bloom above) ---
        "kmv_distinct_users": _q(sketches.kmv_distinct_users),
        "kmv_merged_global": _q(sketches.kmv_merged_global),
        "grid_path_cells": _q(rings.grid_path_cells),
        "corridor_demand": _q(rings.corridor_demand),
        "cell_children": _q(rings.cell_children),
        "compact_cover": _q(rings.compact_cover),
        "uncompact_cover": _q(rings.uncompact_cover),
        "catchment_isochrone": _q(isochrone.catchment_reach),
        "catchment_population": _q(isochrone.catchment_population),
        "catchment_doc_density": _q(isochrone.catchment_doc_density),
        "huff_isochrone": _q(isochrone.huff_isochrone),
        "greedy_site_selection": _q(isochrone.greedy_site_selection),
        "kmv_audience_overlap": _q(sketches.kmv_audience_overlap),
        "cms_heavy_hitters": _q(sketches.cms_heavy_hitters),
        "quantile_sketch": _q(sketches.quantile_sketch_values),
        "bm25_topk": _q(retrieval.bm25_topk),
        # --- similarity search (ANN) ---
        "ann_brute_force_topk": _q(similarity.brute_force_topk),
        "ann_lsh_topk": _q(similarity.ann_topk),
        "ann_ivf_topk": _q(similarity.ivf_topk),
        "embedding_label_centroids": _q(similarity.label_centroid_distances),
        # --- events / time series (streaming twins) ---
        "events_tumbling": _q(events_ops.tumbling_counts),
        "events_sessionize": _q(events_ops.sessionize),
        "events_funnel": _q(events_ops.event_type_funnel),
        "events_json_props": _q(events_ops.json_props_extract),
        # --- core relational coverage (joins/aggs/sets/windows) ---
        "tpch_q1_pricing": _q(relational.pricing_summary),
        "tpch_q3_top_orders": _q(relational.top_unshipped_orders),
        "tpch_q5_regional": _q(relational.regional_revenue),
        "anti_join_orphans": _q(relational.customers_without_orders),
        "semi_join_big_spenders": _q(relational.big_spenders_semi),
        "pivot_median_stddev": _q(relational.part_type_pivot),
        "inlist_between_regex": _q(relational.order_priority_counts),
        "union_distinct": _q(relational.supplier_part_union),
        "rollup_revenue": _q(relational.rollup_revenue),
        "cube_revenue": _q(relational.cube_revenue),
        "grouping_sets_revenue": _q(relational.grouping_sets_revenue),
        "events_running_totals": _q(events_ops.running_totals),
        "events_asof_join": _q(events_ops.asof_last_view),
        "events_interval_join": _q(events_ops.interval_join),
        # --- north-star geo operators: kNN / PIP / zonal / skew ---
        "knn_competitors": _q(knn.knn_competitors),
        "cell_boundaries": _q(rings.cell_boundaries),
        "metro_center_distance": _q(rings.metro_center_distance),
        "parent_rollup": _q(rings.parent_rollup),
        "pip_convex_zones": _q(pip.pip_convex_join),
        "pip_index_assignments": pip_assignments,
        "pip_cover_assignments": pip_assignments,
        "pip_hybrid_assignments": pip_assignments,
        "doc_zone_counts": _q(pip.doc_zone_counts),
        "pip_distributed_assignments": _q(
            lambda s: pip.pip_join(s, polys=pip.polygons_df(s)).select(
                "site_id", "poly_id", "poly_zone"
            )
        ),
        "zonal_stats": _q(zonal.zonal_stats),
        "hotspot_gi": _q(hotspots.hotspot_gi),
        "hotspot_clusters": _qsf(hotspots.hotspot_clusters),
        "zorder_keys": _q(layout.zorder_keys),
        "emerging_hotspots": _q(hotspots.emerging_hotspots),
        "moran_i": _q(hotspots.moran_i),
        "hotspot_gi_docs": _q(hotspots.hotspot_gi_docs),
        "idw_sales_surface": _q(zonal.idw_sales_surface),
        "lisa_clusters": _q(hotspots.lisa_clusters),
        "st_gi_bins": _q(hotspots.st_gi_bins),
        "moran_bivariate": _q(hotspots.moran_bivariate),
        "local_regression": _q(hotspots.local_regression),
        "salted_span_counts": _q(skew.salted_span_counts),
        "salted_topk_docs": _q(skew.salted_topk_docs),
        # --- ML / calibration / multimodal (iterative or binary → rows-only) ---
        "huff_beta_calibration": _q(ml.calibrate_huff_beta),
        "ml_predictions": _q(ml.model_predictions),
        "ml_feature_importance": _q(ml.feature_importance),
        "ml_cv_report": _q(ml.cross_validate_sales_model),
        "media_feature_summary": _q(multimodal.media_feature_summary),
        # --- imputation / encoding / windows (J14, M1, W1) ---
        "median_imputation": _q(encode.median_imputation),
        "one_hot_metro": _q(encode.one_hot_metro),
        "percentile_by_metro": _q(encode.percentile_by_metro),
        "feature_summary": _q(encode.feature_summary),
        "hex_string_ids": _q(encode.hex_string_ids),
        # --- interactive app query surface (app/main.py semantics) ---
        "app_metros": _q(app_queries.app_metros),
        "app_score_record": _q(
            lambda s: app_queries.score_feature_record(s, app_queries.DEMO_SCORE_RECORD)
        ),
        "app_scored_filtered": _q(
            lambda s: app_queries.scored_locations(s, metro="Chicago", tier=None, limit=200)
        ),
        "app_heatmap": _q(
            lambda s: app_queries.competition_heatmap(s, 41.5, 42.3, -88.0, -87.2)
        ),
        "app_similar_locations": _q(lambda s: app_queries.similar_locations(s, 42)),
        "app_daypart_trade_area": _q(lambda s: app_queries.daypart_trade_area(s, 42)),
        "app_whatif_cannibalization": _q(
            lambda s: app_queries.whatif_cannibalization(s, 7)
        ),
        "app_confidence": _q(lambda s: app_queries.confidence_intervals(s, 42)),
        "app_existing_stores": _q(lambda s: app_queries.existing_stores(s, "Chicago")),
        "app_competitors_layer": _q(lambda s: app_queries.competitors_layer(s, "Chicago")),
        "app_poi_layer": _q(lambda s: app_queries.poi_layer(s, "Chicago", "school")),
        "app_heatmap_demand": _q(lambda s: app_queries.heatmap(s, "demand", "Chicago")),
        "app_heatmap_traffic": _q(lambda s: app_queries.heatmap(s, "traffic", "Chicago")),
        "app_compare_sites": _q(lambda s: app_queries.compare_sites(s, [1, 2, 42])),
        "app_scoring_features": _q(lambda s: app_queries.scoring_features(s, 42)),
        "one_hot_features": _q(encode.one_hot_features),
        "model_feature_columns": _q(encode.model_feature_columns),
        "quality_gate": _q(_quality_gate_df),  # rows-only (report surface)
        "flagged_sites_latest": _q(_flagged_sites_demo),  # rows-only (write path)
        # --- grouped-map + multimodal kernels (Arrow; rows-only) ---
        "metro_outlier_scores": _q(_grouped_outliers),
        "metro_supply_balance": _q(_grouped_supply_balance),
        "media_resize": _q(_media_resize),
        "media_frame_sample": _q(_media_frames),
    }


def _grouped_outliers(spark: SparkSession) -> DataFrame:
    from geospatial_store_siting_spark.operators import grouped

    return grouped.metro_outlier_scores(spark)


def _grouped_supply_balance(spark: SparkSession) -> DataFrame:
    from geospatial_store_siting_spark.operators import grouped

    return grouped.metro_supply_balance(spark)


def _supply_balance_oracle_sql() -> str:
    from geospatial_store_siting_spark.operators import grouped

    return grouped.metro_supply_balance_oracle_sql()


def _media_resize(spark: SparkSession) -> DataFrame:
    return multimodal.resize_images(spark).select(
        "doc_id", "span_offset", "out_w", "out_h"
    )


def _media_frames(spark: SparkSession) -> DataFrame:
    import pyspark.sql.functions as F

    return multimodal.sample_frames(spark).select(
        "doc_id", "span_offset", "frame_idx", F.length("frame_bytes").alias("n_bytes")
    )


def oracle_sql() -> dict[str, str]:
    return {
        "hex_feature_join": features.location_features_oracle_sql(),
        "hex_feature_join_dev": features.location_features_dev_oracle_sql(),
        "demographics_ring1": features.demographics_ring_oracle_sql(1),
        "demographics_ring2": features.demographics_ring_oracle_sql(2),
        "traffic_ring1": features.traffic_ring_oracle_sql(1),
        "competition_ring1": features.competition_ring_oracle_sql(1),
        "competition_ring3": features.competition_ring_oracle_sql(3),
        "competition_distance": features.competition_distance_oracle_sql(),
        "competition_distance_windowed": features.competition_distance_windowed_oracle_sql(),
        "poi_ring1": features.poi_ring_oracle_sql(1),
        "daytime_pop_ring1": features.daytime_population_ring_oracle_sql(1),
        "school_ring2": features.school_ring_oracle_sql(2),
        "property_features": features.property_features_oracle_sql(),
        "cannibalization": features.cannibalization_oracle_sql(),
        "cannibalization_windowed": features.cannibalization_windowed_oracle_sql(),
        "dev_dominant_county": dev_signals.dominant_county_oracle_sql(),
        "dev_signals_h3": dev_signals.dev_signals_by_h3_oracle_sql(),
        "dev_signal_ring1": dev_signals.dev_signal_ring_oracle_sql(1),
        "huff_features": huff.huff_features_oracle_sql(),
        "score_candidates": scoring.score_candidates_oracle_sql(),
        "top5_per_metro": scoring.top_candidates_per_metro_oracle_sql(),
        "metro_summary": scoring.metro_summary_oracle_sql(),
        "phase_summary": scoring.phase_summary_oracle_sql(),
        "geotagged_spans": documents.geotagged_spans_oracle_sql(),
        "doc_cells": documents.doc_cells_oracle_sql(),
        "doc_tiles": documents.doc_tiles_oracle_sql(),
        "text_stats": text_ops.text_stats_oracle_sql(),
        "lang_id": text_ops.lang_id_oracle_sql(),
        "quality_score": text_ops.quality_score_oracle_sql(),
        "doc_fingerprint": text_ops.fingerprint_oracle_sql(),
        "doc_rolling_fingerprint": text_ops.rolling_fingerprint_oracle_sql(),
        "token_repetition": text_ops.token_repetition_oracle_sql(),
        "scrub_pii": text_ops.scrub_pii_oracle_sql(),
        "vocab_topk": text_ops.vocab_topk_oracle_sql(),
        "corpus_source_report": text_ops.corpus_source_report_oracle_sql(),
        "chunk_documents": text_ops.chunk_documents_oracle_sql(),
        "dup_ngram_fraction": text_ops.dup_ngram_fraction_oracle_sql(),
        "boilerplate_ngrams": text_ops.boilerplate_ngrams_oracle_sql(),
        "unigram_surprisal": text_ops.unigram_surprisal_oracle_sql(),
        "sample_hash": sampling.hash_sample_oracle_sql(),
        "sample_stratified": sampling.stratified_sample_oracle_sql(),
        "sample_group_k": sampling.group_sample_oracle_sql(),
        "training_mix": sampling.training_mix_oracle_sql(),
        "corpus_splits": sampling.corpus_splits_oracle_sql(),
        "pack_sequences": sampling.pack_sequences_oracle_sql(),
        "dedup_exact": dedup.exact_dedup_oracle_sql(),
        "dedup_keep_documents": dedup.dedup_keep_documents_oracle_sql(),
        "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs_oracle_sql(),
        "dedup_minhash_lsh": dedup.minhash_lsh_pairs_oracle_sql(),
        "dedup_simhash": dedup.simhash_oracle_sql(),
        "dedup_simhash_pairs": dedup.simhash_pairs_oracle_sql(),
        "dedup_components": dedup.near_dup_components_oracle_sql(),
        "dedup_cluster_representatives": dedup.cluster_representatives_oracle_sql(),
        "training_corpus": dedup.training_corpus_oracle_sql(),
        "decontaminate": dedup.decontaminate_oracle_sql(),
        "decontaminate_bloom": sketches.decontaminate_bloom_oracle_sql(),
        "kmv_distinct_users": sketches.kmv_distinct_users_oracle_sql(),
        "kmv_merged_global": sketches.kmv_merged_global_oracle_sql(),
        "grid_path_cells": rings.grid_path_cells_oracle_sql(),
        "corridor_demand": rings.corridor_demand_oracle_sql(),
        "cell_children": rings.cell_children_oracle_sql(),
        "compact_cover": rings.compact_cover_oracle_sql(),
        "uncompact_cover": rings.uncompact_cover_oracle_sql(),
        "catchment_isochrone": isochrone.catchment_reach_oracle_sql(),
        "catchment_population": isochrone.catchment_population_oracle_sql(),
        "catchment_doc_density": isochrone.catchment_doc_density_oracle_sql(),
        "huff_isochrone": isochrone.huff_isochrone_oracle_sql(),
        "greedy_site_selection": isochrone.greedy_site_selection_oracle_sql(),
        "kmv_audience_overlap": sketches.kmv_audience_overlap_oracle_sql(),
        "cms_heavy_hitters": sketches.cms_heavy_hitters_oracle_sql(),
        "quantile_sketch": sketches.quantile_sketch_values_oracle_sql(),
        "bm25_topk": retrieval.bm25_topk_oracle_sql(),
        "dedup_incremental": dedup.dedup_incremental_oracle_sql(),
        "ann_brute_force_topk": similarity.brute_force_topk_oracle_sql(),
        "ann_lsh_topk": similarity.ann_topk_oracle_sql(),
        "ann_ivf_topk": similarity.ivf_topk_oracle_sql(),
        "embedding_label_centroids": similarity.label_centroid_distances_oracle_sql(),
        "events_tumbling": events_ops.tumbling_counts_oracle_sql(),
        "events_sessionize": events_ops.sessionize_oracle_sql(),
        "events_funnel": events_ops.event_type_funnel_oracle_sql(),
        "events_json_props": events_ops.json_props_extract_oracle_sql(),
        "events_asof_join": events_ops.asof_last_view_oracle_sql(),
        "events_interval_join": events_ops.interval_join_oracle_sql(),
        "tpch_q1_pricing": relational.pricing_summary_oracle_sql(),
        "tpch_q3_top_orders": relational.top_unshipped_orders_oracle_sql(),
        "tpch_q5_regional": relational.regional_revenue_oracle_sql(),
        "anti_join_orphans": relational.customers_without_orders_oracle_sql(),
        "semi_join_big_spenders": relational.big_spenders_semi_oracle_sql(),
        "pivot_median_stddev": relational.part_type_pivot_oracle_sql(),
        "inlist_between_regex": relational.order_priority_counts_oracle_sql(),
        "union_distinct": relational.supplier_part_union_oracle_sql(),
        "rollup_revenue": relational.rollup_revenue_oracle_sql(),
        "cube_revenue": relational.cube_revenue_oracle_sql(),
        "grouping_sets_revenue": relational.grouping_sets_revenue_oracle_sql(),
        "events_running_totals": events_ops.running_totals_oracle_sql(),
        "dedup_embedding_cosine": dedup.embedding_near_dup_oracle_sql(),
        "dedup_embedding_cosine_exact": dedup.embedding_near_dup_exact_oracle_sql(),
        "knn_competitors": knn.knn_competitors_oracle_sql(),
        "pip_convex_zones": pip.pip_convex_join_oracle_sql(),
        "pip_index_assignments": pip.pip_assignments_oracle_sql(),
        "cell_boundaries": rings.cell_boundaries_oracle_sql(),
        "metro_center_distance": rings.metro_center_distance_oracle_sql(),
        "parent_rollup": rings.parent_rollup_oracle_sql(),
        # the shuffle-free broadcast-cover plan must produce the exact same
        # assignment as the ordered half-plane CASE
        "pip_cover_assignments": pip.pip_assignments_oracle_sql(),
        # ... and so must the hybrid (interior JVM / boundary-rim kernel) plan
        "pip_hybrid_assignments": pip.pip_assignments_oracle_sql(),
        "doc_zone_counts": pip.doc_zone_counts_oracle_sql(),
        # the census-scale plan (distributed polyfill + shuffle cover join)
        # must still produce the ordered-CASE assignment
        "pip_distributed_assignments": pip.pip_assignments_oracle_sql(),
        "zonal_stats": zonal.zonal_stats_oracle_sql(),
        "hotspot_gi": hotspots.hotspot_gi_oracle_sql(),
        "hotspot_clusters": hotspots.hotspot_clusters_oracle_sql(),
        "zorder_keys": layout.zorder_keys_oracle_sql(),
        "emerging_hotspots": hotspots.emerging_hotspots_oracle_sql(),
        "moran_i": hotspots.moran_i_oracle_sql(),
        "hotspot_gi_docs": hotspots.hotspot_gi_docs_oracle_sql(),
        "idw_sales_surface": zonal.idw_sales_surface_oracle_sql(),
        "lisa_clusters": hotspots.lisa_clusters_oracle_sql(),
        "st_gi_bins": hotspots.st_gi_bins_oracle_sql(),
        "moran_bivariate": hotspots.moran_bivariate_oracle_sql(),
        "local_regression": hotspots.local_regression_oracle_sql(),
        "salted_span_counts": skew.salted_span_counts_oracle_sql(),
        "salted_topk_docs": skew.salted_topk_docs_oracle_sql(),
        # ml_predictions / media_feature_summary: intentionally no oracle
        # (iterative ML / binary kernels) — rows-only
        "huff_beta_calibration": ml.calibrate_huff_beta_oracle_sql(),
        "median_imputation": encode.median_imputation_oracle_sql(),
        "one_hot_metro": encode.one_hot_metro_oracle_sql(),
        "percentile_by_metro": encode.percentile_by_metro_oracle_sql(),
        "feature_summary": encode.feature_summary_oracle_sql(),
        "hex_string_ids": encode.hex_string_ids_oracle_sql(),
        "app_metros": app_queries.app_metros_oracle_sql(),
        "app_score_record": app_queries.score_feature_record_oracle_sql(
            app_queries.DEMO_SCORE_RECORD
        ),
        "app_scored_filtered": app_queries.scored_locations_oracle_sql("Chicago", 200),
        "app_heatmap": app_queries.competition_heatmap_oracle_sql(41.5, 42.3, -88.0, -87.2),
        "app_similar_locations": app_queries.similar_locations_oracle_sql(42),
        "app_daypart_trade_area": app_queries.daypart_trade_area_oracle_sql(42),
        "app_whatif_cannibalization": app_queries.whatif_cannibalization_oracle_sql(7),
        "app_confidence": app_queries.confidence_intervals_oracle_sql(42),
        "app_existing_stores": app_queries.existing_stores_oracle_sql("Chicago"),
        "app_competitors_layer": app_queries.competitors_layer_oracle_sql("Chicago"),
        "app_poi_layer": app_queries.poi_layer_oracle_sql("Chicago", "school"),
        "app_heatmap_demand": app_queries.heatmap_oracle_sql("demand", "Chicago"),
        "app_heatmap_traffic": app_queries.heatmap_oracle_sql("traffic", "Chicago"),
        "app_compare_sites": app_queries.compare_sites_oracle_sql([1, 2, 42]),
        "app_scoring_features": app_queries.scoring_features_oracle_sql(42),
        "one_hot_features": encode.one_hot_features_oracle_sql(),
        "model_feature_columns": encode.model_feature_columns_oracle_sql(),
        "metro_outlier_scores": _grouped_oracle_sql(),
        "metro_supply_balance": _supply_balance_oracle_sql(),
        # the write-path demo is content-deterministic: latest-wins of
        # FLAGGED_EVENTS, recomputed from the same constant the writer uses
        "flagged_sites_latest": _flagged_latest_oracle_sql(),
        # quality_gate: report surface — rows-only
    }


def _grouped_oracle_sql() -> str:
    from geospatial_store_siting_spark.operators import grouped

    return grouped.metro_outlier_scores_oracle_sql()
