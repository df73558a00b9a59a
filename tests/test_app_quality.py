"""App query surface + quality gate + write-back sink tests."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from geospatial_store_siting_spark import observe
from geospatial_store_siting_spark.operators import app_queries, quality


def test_quality_gate_passes(geo):
    report = quality.run_gate(geo, raise_on_fail=True)
    assert report["passes"]
    assert report["fk"]["orphans"] == 0
    assert all(r["passes"] for r in report["schema"])


def test_dynamic_filters_compose(geo):
    base = app_queries.scored_locations(geo, limit=10_000).count()
    chicago = app_queries.scored_locations(geo, metro="Chicago", limit=10_000)
    assert 0 < chicago.count() < base
    assert chicago.filter(F.col("metro") != "Chicago").count() == 0
    tiered = app_queries.scored_locations(geo, metro="Chicago", tier="A", limit=10_000)
    assert tiered.filter(F.col("tier") != "A").count() == 0


def test_location_detail_point_lookup(geo):
    df = app_queries.location_detail(geo, 42)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["site_id"] == 42


def test_score_feature_record_built_in_jvm(geo):
    """The one-row record is JVM literals, not a Python RDD, and scores
    to the oracle's value."""
    import duckdb

    df = app_queries.score_feature_record(geo, app_queries.DEMO_SCORE_RECORD)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    want = duckdb.sql(
        app_queries.score_feature_record_oracle_sql(app_queries.DEMO_SCORE_RECORD)
    ).fetchall()
    assert [tuple(r) for r in df.collect()] == want


def test_flag_site_latest_wins(geo):
    path = tempfile.mkdtemp(prefix="flags_") + "/log"
    app_queries.flag_site(geo, path, 1, "shortlisted", seq=1)
    app_queries.flag_site(geo, path, 1, "rejected", seq=2)
    app_queries.flag_site(geo, path, 2, "shortlisted", seq=1)
    latest = {r["site_id"]: r["status"] for r in app_queries.flagged_sites(geo, path).collect()}
    assert latest == {1: "rejected", 2: "shortlisted"}
    joined = app_queries.flagged_with_scores(geo, path)
    assert joined.count() == 2


def test_flag_round_trip_notes_and_schema(geo, tmp_path):
    """Notes survive the write as literals (quotes, a backslash, unicode,
    the empty string); ``seq=None`` writes 0; the log's files carry
    FLAG_SCHEMA; each append is one job of one task."""
    path = str(tmp_path / "log")
    notes = ['say "hi"', "it's", "back\\slash", "café ☕ 東京", ""]
    for seq, note in enumerate(notes, start=1):
        app_queries.flag_site(geo, path, seq, "review", note=note, seq=seq)
    with observe.span(geo, "flag") as sp:
        app_queries.flag_site(geo, path, 99, "shortlist", note="no seq")
    assert len(sp["job_ids"]) == 1
    assert sp["tasks"] == 1
    assert geo.read.parquet(path).schema == app_queries.FLAG_SCHEMA
    got = {
        r["site_id"]: (r["status"], r["note"], r["seq"])
        for r in app_queries.flagged_sites(geo, path).collect()
    }
    expected = {seq: ("review", note, seq) for seq, note in enumerate(notes, start=1)}
    expected[99] = ("shortlist", "no seq", 0)
    assert got == expected


def test_similar_locations_excludes_probe_and_ranks(geo):
    df = app_queries.similar_locations(geo, 42, k=5).collect()
    assert len(df) == 5
    assert all(r["site_id"] != 42 for r in df)
    sims = [r["similarity"] for r in df]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 + 1e-9 for s in sims)
