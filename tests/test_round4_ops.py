"""Round-4 operator tests: gate-dispatched assembly distance families,
manifest-stats broadcast gate, snapshot-fed app surface, SimHash pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geospatial_store_siting_spark import observe
from geospatial_store_siting_spark.operators import features, plan_choice
from geospatial_store_siting_spark.sources import tables
from tests.conftest import SF_DIR


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _no_count(monkeypatch):
    def boom(self):
        raise AssertionError("count() job ran during gate decision")
    monkeypatch.setattr(DataFrame, "count", boom)


@pytest.fixture()
def rows_map(geo):
    """The session's plan-choice row map, restored after the test."""
    saved = dict(getattr(geo, plan_choice._ROWS_ATTR))
    yield saved
    plan_choice.record_table_rows(geo, saved)


class TestAssemblyDistanceGate:
    def test_below_gate_uses_metro_blocked_broadcast(self, geo):
        # sf0.001 dims are tiny: the exact metro-blocked join is chosen —
        # r6 fuses both distance families into ONE broadcast pass on the
        # shared d_metro block key (features._metro_families)
        plan = _optimized(features.location_features(geo))
        assert "d_metro" in plan  # the fused families' block key
        assert "p_coarse" not in plan and "r_coarse" not in plan

    def test_above_gate_uses_windowed_plans(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "DIM_LIMIT", 0)
        plan = _optimized(features.location_features(geo))
        # no metro-key join anywhere: the 5-distinct-value block key is the
        # scale killer the windowed plans remove
        assert "d_metro" not in plan  # the fused broadcast pass
        assert "c_metro" not in plan
        assert "cb_metro" not in plan
        assert "s_metro" not in plan  # huff denominator's supply block key
        # the distance families ride the dim-side coarse-cell candidate join
        assert "p_coarse" in plan

    def test_above_gate_plan_builds_without_count_jobs(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "DIM_LIMIT", 0)
        def boom(self):
            raise AssertionError("count() job ran during plan construction")
        monkeypatch.setattr(DataFrame, "count", boom)
        features.location_features(geo)  # gate reads manifest stats only

    def test_fused_broadcasts_gate_on_summed_rows(self, geo, rows_map, monkeypatch):
        # each dim fits the limit alone, their union does not: neither
        # fused broadcast (the metro pass's competitors ∪ stores, huff's
        # supply dim) ships; both switch to their windowed plans
        plan_choice.record_table_rows(
            geo, {**rows_map, "competitors": 600_000, "sites": 600_000}
        )
        _no_count(monkeypatch)
        plan = _optimized(features.location_features(geo))
        assert "d_metro" not in plan  # the fused metro pass
        assert "s_metro" not in plan  # huff's supply broadcast
        assert "c_metro" not in plan and "cb_metro" not in plan
        assert "r_coarse" in plan  # windowed huff denominator
        assert "p_coarse" in plan  # windowed distance families

    def test_fused_broadcasts_kept_below_summed_limit(self, geo, rows_map, monkeypatch):
        plan_choice.record_table_rows(
            geo, {**rows_map, "competitors": 500_000, "sites": 500_000}
        )
        _no_count(monkeypatch)
        plan = _optimized(features.location_features(geo))
        assert "d_metro" in plan and "s_metro" in plan
        assert "c_metro" not in plan and "cb_metro" not in plan
        assert "p_coarse" not in plan and "r_coarse" not in plan

    def test_windowed_cannibalization_risk_matches_blocked(self, geo):
        """cannibalization_risk is exact under the window contract (the
        ring window strictly contains the 3-mile gravity radius), so it
        must agree with the metro-blocked plan on every common site."""
        blocked = features.cannibalization(geo).select(
            "site_id", F.col("cannibalization_risk").alias("risk_b")
        )
        windowed = features.cannibalization_windowed(geo).select(
            "site_id", F.col("cannibalization_risk").alias("risk_w")
        )
        diff = (
            blocked.join(windowed, "site_id")
            .filter(F.abs(F.col("risk_b") - F.col("risk_w")) > 1e-9)
            .count()
        )
        assert diff == 0

    def test_windowed_huff_denominator_is_exact(self, geo):
        """The windowed denominator is EXACT (not window-bounded): the
        denominator filters to dist <= 3 mi and the ring window strictly
        contains that radius, so blocked and windowed plans see the same
        pair set (values differ only by FP summation order)."""
        from geospatial_store_siting_spark.operators import huff

        blocked = huff.hex_denominators(geo).select(
            "cell_id", F.col("denom").alias("d_b")
        )
        windowed = huff.hex_denominators_windowed(geo).select(
            "cell_id", F.col("denom").alias("d_w")
        )
        j = blocked.join(windowed, "cell_id", "full_outer")
        bad = j.filter(
            F.col("d_b").isNull()
            | F.col("d_w").isNull()
            | (F.abs(F.col("d_b") - F.col("d_w")) > 1e-6)
        ).count()
        assert bad == 0


class TestFusedAssemblyEquivalence:
    """r6: the assembly fuses every cell-keyed family into one ring-3 pass
    and both metro-blocked distance families into one broadcast pass; the
    standalone per-family operators are the semantic ground truth, so the
    fused columns must match them value-for-value (post null-fill)."""

    def test_fused_families_match_standalone_operators(self, geo):
        gold = features.location_features(geo)
        fam_frames = {
            "demo": features.demographics_ring(geo, 1),
            "traffic": features.traffic_ring(geo, 1),
            "comp1": features.competition_ring(geo, 1),
            "comp3": features.competition_ring(geo, 3),
            "dist": features.competition_distance(geo),
            "poi": features.poi_ring(geo, 1),
            "school": features.school_ring(geo, 2),
            "cann": features.cannibalization(geo),
        }
        checked = {
            "demo": ["population_1ring", "median_income_1ring", "n_cells"],
            "traffic": ["max_pedestrian_traffic", "avg_transit_score"],
            "comp1": ["competitors_1ring", "burger_competitors_1ring",
                      "coffee_competitors_1ring"],
            "comp3": ["competitors_3ring"],
            "dist": ["nearest_competitor_miles", "competitive_intensity",
                     "competitors_3mi"],
            "poi": ["poi_1ring", "anchor_poi_1ring",
                    "total_foot_traffic_1ring"],
            "school": ["school_count_2ring"],
            "cann": ["cannibalization_risk", "nearest_own_store_miles"],
        }
        expected = geo.table("sites").select("site_id")
        exprs = []
        for fam, frame in fam_frames.items():
            cols = checked[fam]
            expected = expected.join(
                frame.select("site_id", *[F.col(c).alias(f"{fam}_{c}") for c in cols]),
                "site_id", "left",
            )
            exprs += [(c, f"{fam}_{c}") for c in cols]
        j = gold.join(expected, "site_id")
        # n_cells is unfilled; every other checked column follows the
        # null-fill contract (standalone-family NULL -> 0.0)
        conds = [
            f"NOT (({g} IS NULL AND {e} IS NULL) OR {g} <=> COALESCE({e}, "
            + ("NULL" if g == "n_cells" else "0.0")
            + "))"
            for g, e in exprs
        ]
        bad = j.filter(F.expr(" OR ".join(conds))).count()
        assert bad == 0


class TestManifestBroadcastGate:
    def test_dim_small_reads_manifest_rows_not_count(self, geo, monkeypatch):
        _no_count(monkeypatch)
        # a manifest-backed table never counts; its count bounds any
        # filtered/projected dim derived from it
        for t in ("competitors", "sites", "poi", "hex_grid"):
            assert plan_choice.small(geo, t)
        assert plan_choice.small(geo, "competitors", "sites")

    def test_dim_small_hint_is_conservative_above_limit(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "DIM_LIMIT", 0)
        _no_count(monkeypatch)
        assert not plan_choice.small(geo, "competitors")

    def test_dim_small_falls_back_to_count_without_hint(self, geo, rows_map):
        # documents has no manifest count: counted once per registration,
        # and the count joins the row map
        tables.load_all(geo, SF_DIR)
        assert "documents" not in getattr(geo, plan_choice._ROWS_ATTR)
        with observe.span(geo, "first") as first:
            assert plan_choice.small(geo, "documents")
        with observe.span(geo, "second") as second:
            assert plan_choice.small(geo, "documents")
        assert first["job_ids"] and not second["job_ids"]
        n = geo.table("documents").count()
        assert getattr(geo, plan_choice._ROWS_ATTR)["documents"] == n


class TestSnapshotFedSurface:
    """The interactive surface reads COMMITTED pipeline stages instead of
    recomputing the feature / crosswalk plans per query."""

    @pytest.fixture()
    def staged(self, geo, tmp_path_factory):
        import geospatial_store_siting_spark.plans.pipeline as pl
        from tests.conftest import SF_DIR

        old = pl.STAGE_ROOT
        pl.STAGE_ROOT = str(tmp_path_factory.mktemp("stages_r4"))
        try:
            pl.run_pipeline(geo, SF_DIR)
            yield geo
        finally:
            pl.STAGE_ROOT = old
            for n in list(getattr(geo, "_gss_stage_names", set()) or set()):
                geo.catalog.dropTempView(n)
            geo._gss_stage_names = set()
            geo._gss_stage_sf = None

    def test_location_detail_reads_committed_stage(self, staged):
        from geospatial_store_siting_spark.operators import app_queries

        plan = _optimized(app_queries.location_detail(staged, 42))
        # a feature recompute would scan hex_grid (centroid_lat) — the
        # staged plan is a point-filtered parquet scan of the gold table
        assert "centroid_lat" not in plan

    def test_staged_lookups_scan_site_detail_only(self, staged):
        """Over the committed ``site_detail`` stage a lookup is one
        site-filtered scan of one table: no join, and one job."""
        import re

        from geospatial_store_siting_spark.operators import app_queries

        for df in (
            app_queries.location_detail(staged, 42),
            app_queries.compare_sites(staged, [1, 2, 42]),
        ):
            plan = _optimized(df)
            assert "Join" not in plan, plan
            assert len(re.findall(r"Filter .*site_id", plan)) == 1, plan
            assert df.inputFiles() and all("site_detail" in f for f in df.inputFiles())
        with observe.span(staged, "lookup") as sp:
            app_queries.location_detail(staged, 42).toPandas()
        assert len(sp["job_ids"]) == 1

    def test_lookups_filter_both_join_inputs(self, staged):
        """With an explicit feature table the lookups join it to the scored
        table.  Constraint propagation is off, so no filter is inferred
        across the join: each lookup must filter the scored side itself."""
        import re

        from geospatial_store_siting_spark.operators import app_queries

        feats = staged.table("location_features")
        for df in (
            app_queries.location_detail(staged, 42, features_df=feats),
            app_queries.compare_sites(staged, [1, 2, 42], features_df=feats),
        ):
            plan = _optimized(df)
            assert len(re.findall(r"Filter .*site_id", plan)) == 2, plan

    def test_lookup_of_a_new_site_compiles_no_class(self, staged):
        """A bigint literal is inlined into generated code; the lookups'
        site filter passes the ids by reference, so after one lookup a
        lookup of another site reuses every generated class."""
        from geospatial_store_siting_spark.operators import app_queries

        metrics = staged.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compiles = metrics.METRIC_COMPILATION_TIME()
        app_queries.location_detail(staged, 42).collect()
        before = compiles.getCount()
        app_queries.location_detail(staged, 43).collect()
        assert compiles.getCount() == before

    @pytest.mark.parametrize("endpoint, site_a, site_b", [
        ("similar_locations", 42, 43),
        ("scoring_features", 42, 43),
        ("confidence_intervals", 42, 43),
        ("daypart_trade_area", 42, 43),
        ("whatif_cannibalization", 0, 11),  # at sf0.001 only stores have impacts
    ])
    def test_endpoint_compiles_no_class_for_a_new_site(self, staged, endpoint, site_a, site_b):
        """The per-site endpoints filter through ``_site_in`` too: after a
        lookup of one site, a lookup of another reuses every class."""
        from geospatial_store_siting_spark.operators import app_queries

        fn = getattr(app_queries, endpoint)
        metrics = staged.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compiles = metrics.METRIC_COMPILATION_TIME()
        assert fn(staged, site_a).collect()
        before = compiles.getCount()
        assert fn(staged, site_b).collect()
        assert compiles.getCount() == before

    def test_similar_and_compare_read_committed_stage(self, staged):
        from geospatial_store_siting_spark.operators import app_queries

        for df in (
            app_queries.similar_locations(staged, 42),
            app_queries.compare_sites(staged, [1, 2, 42]),
            app_queries.scoring_features(staged, 42),
            app_queries.confidence_intervals(staged, 42),
        ):
            assert "centroid_lat" not in _optimized(df)

    def test_dev_signal_ring_reads_committed_stage(self, staged):
        from geospatial_store_siting_spark.operators import dev_signals

        plan = _optimized(dev_signals.dev_signal_ring(staged, 1))
        # the zip→county→H3 crosswalk chain must not be rebuilt inline
        assert "zip_code" not in plan

    def test_scored_surface_reads_committed_stage(self, staged):
        from geospatial_store_siting_spark.operators import app_queries, scoring

        for df in (
            app_queries.scored_locations(staged, metro="Chicago"),
            app_queries.app_metros(staged),
            scoring.metro_summary(staged),
        ):
            assert "centroid_lat" not in _optimized(df)

    def test_staged_values_match_recompute(self, staged):
        from geospatial_store_siting_spark.operators import app_queries
        from geospatial_store_siting_spark.operators.features import location_features

        fresh_feats = location_features(staged)
        for lookup, sites in (
            (app_queries.location_detail, 42),
            (app_queries.compare_sites, [1, 2, 42]),
        ):
            staged_rows = lookup(staged, sites).toPandas()
            fresh = lookup(staged, sites, features_df=fresh_feats).toPandas()
            # same rows, and the stage keeps the fallback join's column order
            assert not staged_rows.empty and staged_rows.equals(fresh)


def test_stage_views_dropped_on_sf_change(geo):
    from geospatial_store_siting_spark.sources import tables
    from tests.conftest import SF_DIR

    tables.register_stage_view(geo, "location_features", geo.range(1), "/other/sf")
    assert tables.stage_view(geo, "location_features") is not None
    tables.load_all(geo, SF_DIR)  # re-load at the real SF → stale views dropped
    assert tables.stage_view(geo, "location_features") is None


def test_asof_tie_determinism(geo):
    """Two right-side (view) events sharing a user's maximal earlier ts:
    the Spark window plan picks the max event_id, and the oracle's
    ROW_NUMBER formulation (not DuckDB's arbitrary-pick native ASOF) must
    agree on the same row."""
    import duckdb
    import pandas as pd

    from geospatial_store_siting_spark.operators import events_ops
    from geospatial_store_siting_spark.testing import frames_match

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [7, 7, 7],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:00:00", "2024-01-01 00:10:00"]
            ),
            "event_type": ["view", "view", "purchase"],
            "value": [1.0, 2.0, 30.0],
        }
    )
    old = geo.table("events")
    geo.createDataFrame(pdf).createOrReplaceTempView("events")
    try:
        out = events_ops.asof_last_view(geo).toPandas()
        assert list(out["view_event_id"]) == [2]  # max event_id wins the tie
        con = duckdb.connect()
        con.register("events", pdf)
        ok, msg = frames_match(out, con.execute(events_ops.asof_last_view_oracle_sql()).df())
        assert ok, msg
    finally:
        old.createOrReplaceTempView("events")


def test_rank_filtered_windows_plan_group_limits(geo):
    """Every rank<=k window cut in the engine must plan with Catalyst's
    WindowGroupLimit (map-side per-group limits) — the property that makes
    the plain window form skew-resistant (the skewed-grid section of the
    BENCH/BASELINE.md history measured a ~24x gap on a hot cell when the
    limit is not inferable).  If a future
    edit moves the rank filter away from the window, this catches the
    silently-reintroduced straggler."""
    from geospatial_store_siting_spark.operators import dev_signals, knn, scoring, skew

    for name, df in [
        ("knn_competitors", knn.knn_competitors(geo)),
        ("top5_per_metro", scoring.top_candidates_per_metro(geo)),
        ("dominant_county", dev_signals.dominant_county(geo)),
        ("salted_topk_docs", skew.salted_topk_docs(geo)),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, f"{name}: rank filter not pushed into the window"


def test_connected_components_long_chain(geo):
    """A 60-node path graph (diameter 59 > CC_MAX_ITER=25) must converge:
    the pointer-doubling step makes rounds O(log diameter), so plain
    propagation's abort-on-long-chain failure mode cannot occur."""
    from geospatial_store_siting_spark.operators import dedup

    edges = geo.createDataFrame(
        [(i, i + 1) for i in range(59)] + [(100, 101)], "a bigint, b bigint"
    )
    out = dedup.connected_components(geo, edges).toPandas()
    chain = out[out["node"] <= 59]
    assert (chain["label"] == 0).all()  # one component rooted at min id
    assert set(out[out["node"] >= 100]["label"]) == {100}


def test_scrub_pii_on_crafted_documents(geo):
    """The synthetic corpus carries no emails/URLs, so the oracle parity
    check only proves the no-match path — this exercises real matches and
    asserts both engines mask identically (Java regex vs RE2 agreement on
    the alternation-free patterns)."""
    import duckdb
    import pandas as pd

    from geospatial_store_siting_spark.operators import text_ops
    from geospatial_store_siting_spark.testing import frames_match

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "contact bob.smith+spam@mail.example.co or visit https://ex.org/a?b=1 now",
                "no pii here at all",
                "two mails a@b.io c@d.org and http://plain.example page",
            ],
            "n_chars": [70, 18, 50],
            "lang": ["en", "en", "en"],
        }
    )
    old = geo.table("documents")
    geo.createDataFrame(pdf).createOrReplaceTempView("documents")
    try:
        out = text_ops.scrub_pii(geo).toPandas().sort_values("doc_id")
        assert list(out["n_emails"]) == [1, 0, 2]
        assert list(out["n_urls"]) == [1, 0, 1]
        con = duckdb.connect()
        con.register("documents", pdf)
        ok, msg = frames_match(
            out, con.execute(text_ops.scrub_pii_oracle_sql()).df()
        )
        assert ok, msg
    finally:
        old.createOrReplaceTempView("documents")


class TestPhaseSummary:
    def _scored(self, geo, sales):
        rows = [
            (i + 1, "Chicago", float(s), 0.5, "C") for i, s in enumerate(sales)
        ]
        return geo.createDataFrame(
            rows,
            "site_id bigint, metro string, predicted_annual_sales double, "
            "percentile double, tier string",
        )

    def test_variance_gate_fails_flat_predictions(self, geo):
        from geospatial_store_siting_spark.operators import scoring

        out = (
            scoring.phase_summary(geo, scored_df=self._scored(geo, [100.0, 100.0, 100.0]))
            .filter(F.col("section") == "global")
            .collect()[0]
        )
        assert out["variance_ok"] == 0
        assert out["std_pred"] == 0.0

    def test_variance_gate_passes_healthy_spread(self, geo):
        from geospatial_store_siting_spark.operators import scoring

        out = (
            scoring.phase_summary(geo, scored_df=self._scored(geo, [0.0, 50000.0]))
            .filter(F.col("section") == "global")
            .collect()[0]
        )
        assert out["variance_ok"] == 1
