"""Round-5 operator tests: durable connected-components resume, strict
oracle hashing, MinHash production width, cogroup zero-store parity."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from geospatial_store_siting_spark.operators import dedup, plan_choice
from geospatial_store_siting_spark.sources import snapshots


class TestConnectedComponentsDurability:
    def _run(self, spark, tmp_root, monkeypatch):
        monkeypatch.setattr(snapshots, "DEFAULT_ROOT", str(tmp_root))
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)],
            "a bigint, b bigint",
        )
        return dedup.connected_components(
            spark, edges, sf_dir="cc-resume-test", content_key="path30+tri"
        ).toPandas()

    def test_kill_and_resume_from_committed_stages(self, spark, tmp_path, monkeypatch):
        """A killed CC loop must resume from committed label stages: after
        deleting the LAST rounds' stage dirs (simulating a mid-loop crash),
        a re-run (a) reproduces the same labels and (b) reuses every
        surviving stage unchanged (manifest commit timestamps identical —
        read, not recomputed)."""
        out1 = self._run(spark, tmp_path, monkeypatch)
        assert (out1[out1["node"] <= 30]["label"] == 0).all()
        assert set(out1[out1["node"] >= 100]["label"]) == {100}

        label_dirs = sorted(glob.glob(str(tmp_path / "*_cc_labels_r*")))
        assert len(label_dirs) >= 3  # r0 + at least two propagation rounds
        sym_dirs = glob.glob(str(tmp_path / "*_cc_sym_*"))
        assert len(sym_dirs) == 1

        def committed_at(d):
            with open(os.path.join(d, "_manifest.json")) as f:
                return json.load(f)["committed_at"]

        # simulate a crash after the first two committed rounds
        survivors = label_dirs[:2] + sym_dirs
        stamps = {d: committed_at(d) for d in survivors}
        for d in label_dirs[2:]:
            import shutil

            shutil.rmtree(d)

        out2 = self._run(spark, tmp_path, monkeypatch)
        assert out2.sort_values("node").reset_index(drop=True).equals(
            out1.sort_values("node").reset_index(drop=True)
        )
        for d, t in stamps.items():
            assert committed_at(d) == t, f"stage {d} was recomputed, not reused"
        # the crashed rounds were re-committed
        assert sorted(glob.glob(str(tmp_path / "*_cc_labels_r*"))) == label_dirs

    def test_adhoc_edges_still_use_local_checkpoint(self, spark):
        """Without a data dir the loop must still work (localCheckpoint
        fallback) — no stage dirs required."""
        edges = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
        out = dedup.connected_components(spark, edges).toPandas()
        assert set(out["label"]) == {1}


class TestStrictOracleHash:
    """tools/check_oracle.py must reproduce the driver's kind-sensitive
    value hash: an oracle whose integer SUM lands as float64 (DuckDB
    HUGEINT) must FAIL against Spark's int64 even when values are equal."""

    def _tools(self):
        import importlib.util
        import sys

        path = os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py")
        spec = importlib.util.spec_from_file_location("check_oracle_t5", path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules["check_oracle_t5"] = mod
        spec.loader.exec_module(mod)
        return mod

    def test_uncast_sum_is_caught(self):
        import pandas as pd

        t = self._tools()
        spark_like = pd.DataFrame({"k": [1, 2], "n": pd.array([10, 20], dtype="int64")})
        duck_like = pd.DataFrame({"k": [1, 2], "n": pd.array([10.0, 20.0], dtype="float64")})
        assert t.value_hash(t.norm(spark_like)) != t.value_hash(t.norm(duck_like))

    def test_int_width_does_not_matter(self):
        import pandas as pd

        t = self._tools()
        a = pd.DataFrame({"k": pd.array([1, 2], dtype="int32")})
        b = pd.DataFrame({"k": pd.array([1, 2], dtype="int64")})
        assert t.value_hash(t.norm(a)) == t.value_hash(t.norm(b))


class TestCogroupZeroStoreParity:
    """ADVICE latent: a metro with competitors but zero (or no) store rows
    must produce IDENTICAL output from the cogrouped-map kernel and the
    FULL OUTER oracle — the sf corpus never exercises that path, so this
    crafted fixture does: a store-less metro (non-store sites only), a
    competitor-less metro, and a metro present only in competitors."""

    SITES = [
        ("m_both", "store", 100000.0),
        ("m_both", "store", 200000.0),
        ("m_both", "candidate", None),
        ("m_no_comp", "store", 500000.0),
        ("m_no_store", "candidate", None),  # metro exists, zero stores
    ]
    COMPS = [
        ("m_both", 1),
        ("m_both", 2),
        ("m_no_store", 3),
        ("m_no_store", 4),
        ("m_no_store", 5),
        ("m_only_comp", 6),
    ]

    def test_kernel_matches_oracle_on_storeless_metros(self, spark):
        import duckdb

        from geospatial_store_siting_spark.operators import grouped
        from geospatial_store_siting_spark.testing import frames_match

        # the FULL sites relation, candidate rows included — the operator
        # applies the same site_type filter the oracle skeleton does
        stores_df = spark.createDataFrame(
            self.SITES, "metro string, site_type string, annual_sales double"
        )
        comps_df = spark.createDataFrame(
            self.COMPS, "metro string, competitor_id bigint"
        )
        sdf = grouped.metro_supply_balance(
            spark, stores_df=stores_df, comps_df=comps_df
        ).toPandas()

        sites_vals = ", ".join(
            f"('{m}', '{t}', {('NULL' if s is None else s)})" for m, t, s in self.SITES
        )
        comp_vals = ", ".join(f"('{m}', {i})" for m, i in self.COMPS)
        sql = grouped.metro_supply_balance_oracle_sql(
            sites_sql=(
                "SELECT * FROM (VALUES "
                + sites_vals
                + ") AS t(metro, site_type, annual_sales)"
            ),
            competitors_sql=(
                "SELECT * FROM (VALUES " + comp_vals + ") AS t(metro, competitor_id)"
            ),
        )
        ddf = duckdb.connect().execute(sql).df()
        # cogroup only emits keys present on at least one side — so does
        # FULL OUTER; both must contain all four metros incl. m_no_store
        assert set(sdf["metro"]) == {"m_both", "m_no_comp", "m_no_store", "m_only_comp"}
        ok, why = frames_match(sdf, ddf)
        assert ok, why
        row = sdf[sdf["metro"] == "m_no_store"].iloc[0]
        assert row["n_stores"] == 0 and row["n_competitors"] == 3
        assert row["stores_per_competitor"] != row["stores_per_competitor"]  # NaN


def test_stage_views_dropped_on_base_reregistration(geo):
    """Re-registering base tables at the SAME sf_dir must unpublish gold
    stage views: they derive from the previous inputs (ADVICE latent —
    a harness swapping a base temp view in-session would otherwise read
    features built from the old tables)."""
    from geospatial_store_siting_spark.sources import tables

    tables.register_stage_view(
        geo, "stage_staleness_probe", geo.range(3), "/root/testdata/sf0.001"
    )
    assert tables.stage_view(geo, "stage_staleness_probe") is not None
    tables.load_all(geo, "/root/testdata/sf0.001")  # same sf_dir
    assert tables.stage_view(geo, "stage_staleness_probe") is None


class TestSnapshotPrune:
    def test_stale_keys_removed_active_survive_resume_works(self, spark, tmp_path):
        root = str(tmp_path)
        # a "modified plan": same stage name, two content keys
        snapshots.snapshot_table(spark, "stg", "SELECT 1 AS x", "sfX", root=root)
        snapshots.snapshot_table(spark, "stg", "SELECT 2 AS x", "sfX", root=root)
        snapshots.snapshot_table(spark, "other", "SELECT 3 AS x", "sfX", root=root)

        def manifest(sql, name="stg"):
            return os.path.join(
                root, snapshots._key("sfX", name, sql), "_manifest.json"
            )

        # make the superseded key strictly older
        with open(manifest("SELECT 1 AS x")) as f:
            meta = json.load(f)
        meta["committed_at"] -= 100
        with open(manifest("SELECT 1 AS x"), "w") as f:
            json.dump(meta, f)
        # crashed commit (manifest-less, old) and in-flight writer (recent)
        crashed = tmp_path / "sfX_crashed_aaaaaaaaaaaa"
        crashed.mkdir()
        os.utime(crashed, (1, 1))
        inflight = tmp_path / "sfX_stg_bbbbbbbbbbbb.tmp-123"
        inflight.mkdir()
        # FOREIGN trees at the root (pipeline stages/ subtree, bench
        # corpora): no content-key suffix — prune must never touch them,
        # however old
        foreign_stages = tmp_path / "stages"
        foreign_stages.mkdir()
        foreign_corpus = tmp_path / "dedup_scale_docs_x64"
        foreign_corpus.mkdir()
        os.utime(foreign_stages, (1, 1))
        os.utime(foreign_corpus, (1, 1))

        res = snapshots.prune(root=root)
        assert foreign_stages.exists() and foreign_corpus.exists()
        assert os.path.basename(os.path.dirname(manifest("SELECT 1 AS x"))) in res[
            "removed"
        ]
        assert str(crashed.name) in res["removed"]
        assert not crashed.exists()
        assert os.path.exists(manifest("SELECT 2 AS x"))
        assert os.path.exists(manifest("SELECT 3 AS x", "other"))
        assert inflight.exists()  # younger than the age cutoff

        # resume: the surviving stage is REUSED (manifest untouched), the
        # pruned one recomputes cleanly
        t_before = os.path.getmtime(manifest("SELECT 2 AS x"))
        again = snapshots.snapshot_table(spark, "stg", "SELECT 2 AS x", "sfX", root=root)
        assert again.first()["x"] == 2
        assert os.path.getmtime(manifest("SELECT 2 AS x")) == t_before
        redo = snapshots.snapshot_table(spark, "stg", "SELECT 1 AS x", "sfX", root=root)
        assert redo.first()["x"] == 1

    def test_plan_revert_keeps_the_key_still_being_read(self, spark, tmp_path):
        """Plan-revert scenario: key A committed long ago but still READ
        (its manifest carries a fresh last_used_at), key B committed later
        then abandoned.  prune must keep A — the live snapshot — and
        remove B.  Without the use stamp, keep-latest-committed would do
        the inverse."""
        root = str(tmp_path)
        snapshots.snapshot_table(spark, "stg", "SELECT 1 AS x", "sfX", root=root)
        snapshots.snapshot_table(spark, "stg", "SELECT 2 AS x", "sfX", root=root)

        def manifest(sql):
            return os.path.join(root, snapshots._key("sfX", "stg", sql), "_manifest.json")

        def backdate(sql, by):
            with open(manifest(sql)) as f:
                meta = json.load(f)
            meta["committed_at"] -= by
            with open(manifest(sql), "w") as f:
                json.dump(meta, f)

        backdate("SELECT 1 AS x", 7200)  # old enough that a read re-stamps
        backdate("SELECT 2 AS x", 60)  # newer than A's commit, but abandoned
        # the revert: A is read again -> its manifest gets last_used_at=now
        snapshots.snapshot_table(spark, "stg", "SELECT 1 AS x", "sfX", root=root)
        res = snapshots.prune(root=root)
        a_dir = os.path.basename(os.path.dirname(manifest("SELECT 1 AS x")))
        b_dir = os.path.basename(os.path.dirname(manifest("SELECT 2 AS x")))
        assert a_dir in res["kept"] and b_dir in res["removed"]
        assert os.path.exists(manifest("SELECT 1 AS x"))


class TestSaabasContributions:
    def test_decomposition_matches_jvm_prediction(self, geo):
        """The Saabas attribution must decompose the GBT prediction
        EXACTLY: contrib_bias + contrib_sum == the JVM model's prediction
        for every row — the numpy kernel (tree tables walked per level)
        is a fully independent re-evaluation path of the same ensemble."""
        import json

        import numpy as np

        from geospatial_store_siting_spark.operators import ml

        pdf = ml.model_predictions(geo).toPandas()
        assert len(pdf) > 0
        resid = np.abs(
            pdf["predicted_annual_sales"] - (pdf["contrib_bias"] + pdf["contrib_sum"])
        )
        assert float(resid.max()) < 1e-6, f"max residual {resid.max()}"
        top = json.loads(pdf["shap_top5"].iloc[0])
        assert len(top) == 5
        contribs = [t["contribution"] for t in top]
        assert contribs == sorted(contribs, reverse=True)
        assert all(t["feature"] in ml.FEATURE_COLS for t in top)

    def test_kernel_agrees_on_crafted_matrix(self, geo):
        """Descend a crafted matrix through the extracted tree tables and
        compare against the model's own transform — row-level agreement
        on real candidate features (not just the aggregate columns)."""
        import numpy as np
        from pyspark.ml.feature import VectorAssembler

        from geospatial_store_siting_spark.operators import ml
        from geospatial_store_siting_spark.operators.features import location_features

        model, _ = ml.train_sales_model(geo)
        feats = (
            location_features(geo)
            .filter("site_type = 'candidate'")
            .na.fill(0.0, ml.FEATURE_COLS)
            .limit(50)
        )
        assembler = VectorAssembler(inputCols=ml.FEATURE_COLS, outputCol="features_vec")
        pred = (
            model.transform(assembler.transform(feats))
            .select("site_id", *ml.FEATURE_COLS, "prediction")
            .toPandas()
        )
        trees = [ml._tree_table(t) for t in model.trees]
        weights = [float(w) for w in model.treeWeights]
        X = pred[ml.FEATURE_COLS].to_numpy(dtype=np.float64)
        bias, contrib = ml.saabas_contributions(X, trees, weights)
        np.testing.assert_allclose(
            bias + contrib.sum(axis=1), pred["prediction"].to_numpy(), rtol=0, atol=1e-6
        )


def test_cv_report_shape_and_folds(geo):
    from geospatial_store_siting_spark.operators import ml

    pdf = ml.cross_validate_sales_model(geo, k=3).toPandas()
    assert sorted(pdf["fold"]) == [0, 1, 2]
    assert pdf["r2_mean"].nunique() == 1 and pdf["r2_std"].nunique() == 1
    import numpy as np

    np.testing.assert_allclose(pdf["r2_mean"].iloc[0], pdf["r2"].mean(), atol=1e-9)
    np.testing.assert_allclose(
        pdf["r2_std"].iloc[0], pdf["r2"].std(ddof=0), atol=1e-9
    )


def test_minhash_width_is_production_shape():
    """64 hashes / 16 bands of 4 rows: the b·r S-curve keeps threshold-0.5
    candidates while collapsing s=0.2 false candidates — 8×4 (2-row bands)
    had P(candidate|s=0.2) ≈ 0.15; 16×4-row bands push it under 0.03."""
    assert dedup.MINHASH_SEEDS == 64
    assert dedup.LSH_BANDS == 16
    r = dedup.MINHASH_SEEDS // dedup.LSH_BANDS
    p_low = 1 - (1 - 0.2**r) ** dedup.LSH_BANDS
    p_mid = 1 - (1 - 0.5**r) ** dedup.LSH_BANDS
    assert p_low < 0.03
    assert p_mid > 0.5


class TestDedupBroadcastGate:
    """Above the corpus-size gate, NO dedup pair plan may broadcast a
    corpus-derived side: localCheckpoint/stage stats under-estimate and
    Catalyst otherwise plans the banded bucket self-join AND both
    signature refine sides as driver-built broadcasts — the non-scaling
    serial fraction measured in the r5 dedup profile (pairs stage
    6.4 s -> 6.7 s from local[4] to local[16]), and a driver OOM at
    corpus scale."""

    def _physical(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_minhash_pairs_no_broadcast_above_gate(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = self._physical(dedup.minhash_lsh_pairs(geo))
        assert "BroadcastExchange" not in plan
        assert "ShuffledHashJoin" in plan

    def test_simhash_pairs_no_broadcast_above_gate(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = self._physical(dedup.simhash_pairs(geo))
        assert "BroadcastExchange" not in plan
        assert "ShuffledHashJoin" in plan

    def test_jaccard_pairs_no_broadcast_above_gate(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = self._physical(dedup.ngram_jaccard_pairs(geo))
        assert "BroadcastExchange" not in plan

    def test_embedding_near_dup_no_broadcast_above_gate(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = self._physical(dedup.embedding_near_dup(geo))
        assert "BroadcastExchange" not in plan

    def test_cc_rounds_no_broadcast_above_gate(self, spark, monkeypatch):
        """assume_small=False must pin every per-round CC join to shuffled
        hash — checked on the first round's plan via a tiny edge list."""
        captured: list[str] = []
        # patch the CONCRETE runtime class (pyspark.sql.classic), not the
        # pyspark.sql.DataFrame facade whose method the subclass overrides
        cls = type(spark.range(1))
        orig = cls.localCheckpoint

        def spy(df, eager=True):
            captured.append(df._jdf.queryExecution().executedPlan().toString())
            return orig(df, eager)

        monkeypatch.setattr(cls, "localCheckpoint", spy)
        edges = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
        dedup.connected_components(spark, edges, assume_small=False)
        round_plans = [p for p in captured if "__old" in p]
        assert round_plans, "no per-round label plan captured"
        for p in round_plans:
            assert "BroadcastExchange" not in p

    def test_ann_topk_no_broadcast_above_gate(self, geo, monkeypatch):
        from geospatial_store_siting_spark.operators import similarity

        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = self._physical(similarity.ann_topk(geo))
        assert "BroadcastExchange" not in plan

    def test_ivf_topk_no_broadcast_above_gate(self, geo, monkeypatch):
        from geospatial_store_siting_spark.operators import similarity

        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = self._physical(similarity.ivf_topk(geo))
        assert "BroadcastExchange" not in plan

    def test_small_corpus_keeps_catalyst_choice(self, geo):
        """Below the gate (sf0.001: 500 docs) the plan is unhinted — the
        broadcast form Catalyst picks is the right one at dim scale."""
        plan = self._physical(dedup.minhash_lsh_pairs(geo))
        assert "BroadcastExchange" in plan


class TestParquetFallbackTimeTravel:
    """Every content-keyed commit of a stage is a retained snapshot: the
    parquet fallback now supports ordinal time travel, with
    prune(keep_latest_per_stage=N) as the expire_snapshots retention
    knob (closes the 'fallback keeps only the latest snapshot' gap)."""

    def test_history_read_and_retention(self, spark, tmp_path, monkeypatch):
        from geospatial_store_siting_spark.sources import iceberg

        monkeypatch.setattr(snapshots, "DEFAULT_ROOT", str(tmp_path))
        sf_dir = "tt-test"
        v0 = spark.createDataFrame([(1, "a")], "id bigint, v string")
        v1 = spark.createDataFrame([(2, "b"), (3, "c")], "id bigint, v string")
        iceberg.write_stage(spark, v0, "demo_stage", sf_dir, content_key="k-one")
        iceberg.write_stage(spark, v1, "demo_stage", sf_dir, content_key="k-two")

        hist = iceberg.stage_history(spark, "demo_stage", sf_dir=sf_dir)
        assert [h["version"] for h in hist] == [0, 1]
        assert hist[0]["rows"] == 1 and hist[1]["rows"] == 2
        assert hist[0]["committed_at"] <= hist[1]["committed_at"]

        old = iceberg.read_stage_version(spark, "demo_stage", 0, sf_dir=sf_dir)
        new = iceberg.read_stage_version(spark, "demo_stage", -1, sf_dir=sf_dir)
        assert old.count() == 1 and new.count() == 2
        assert {r["v"] for r in new.collect()} == {"b", "c"}

        # re-reading an existing key is NOT a new version
        iceberg.write_stage(spark, v1, "demo_stage", sf_dir, content_key="k-two")
        assert len(iceberg.stage_history(spark, "demo_stage", sf_dir=sf_dir)) == 2

        with pytest.raises(IndexError):
            iceberg.read_stage_version(spark, "demo_stage", 5, sf_dir=sf_dir)

        # retention: keep 2 -> both survive; keep 1 -> oldest expires
        snapshots.prune(root=str(tmp_path), keep_latest_per_stage=2)
        assert len(iceberg.stage_history(spark, "demo_stage", sf_dir=sf_dir)) == 2
        snapshots.prune(root=str(tmp_path), keep_latest_per_stage=1)
        hist = iceberg.stage_history(spark, "demo_stage", sf_dir=sf_dir)
        assert len(hist) == 1 and hist[0]["rows"] == 2
        latest = iceberg.read_stage_version(spark, "demo_stage", -1, sf_dir=sf_dir)
        assert latest.count() == 2

    def test_unknown_stage_and_missing_sf_dir(self, spark, tmp_path, monkeypatch):
        from geospatial_store_siting_spark.sources import iceberg

        monkeypatch.setattr(snapshots, "DEFAULT_ROOT", str(tmp_path))
        with pytest.raises(FileNotFoundError):
            iceberg.read_stage_version(spark, "ghost", 0, sf_dir="tt-test")
        with pytest.raises(NotImplementedError):
            iceberg.read_stage_version(spark, "ghost", 0)


class TestH48FastParity:
    """The Spark-fast conv-based 48-bit hash must equal the portable
    INSTR-chain form row-for-row: every committed signature stage and
    every DuckDB oracle depends on the little-endian nibble value."""

    def test_h48_fast_equals_portable_on_corpus(self, geo):
        hexed = geo.table("documents").select(F.md5("text").alias("h"))
        diff = hexed.select(
            (F.expr(dedup._h48_fast("h")) != F.expr(dedup._h48_sql("h"))).alias("d")
        ).filter("d")
        assert diff.count() == 0

    def test_h48_fast_on_crafted_edges(self, geo):
        # all-zero, all-f, mixed-case digits absent from md5 output, and
        # the boundary where nibble 12 carries 16^11
        rows = [("000000000000ffffffffffffffffffff",),
                ("ffffffffffff00000000000000000000",),
                ("0123456789abcdef0123456789abcdef",),
                ("a0000000000b" + "0" * 20,)]
        df = geo.createDataFrame(rows, "h string")
        got = df.select(
            F.expr(dedup._h48_fast("h")).alias("fast"),
            F.expr(dedup._h48_sql("h")).alias("slow"),
        ).collect()
        for r in got:
            assert r["fast"] == r["slow"]


class TestSamplingOperators:
    """Deterministic corpus sampling: map-only plans, WindowGroupLimit on
    the per-group cut, and partition-layout independence (the property
    DataFrame.sample lacks)."""

    def test_hash_sample_is_map_only(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        plan = sampling.hash_sample(geo)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # filter rides the scan: no shuffle

    def test_group_sample_gets_window_group_limit(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        plan = sampling.group_sample(geo)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan  # hot stratum never full-sorts

    def test_partition_layout_independence(self, geo):
        """The same documents are sampled regardless of how the input is
        partitioned — re-register documents repartitioned 7 ways and
        compare doc_id sets."""
        from geospatial_store_siting_spark.operators import sampling

        base = set(
            r["doc_id"] for r in sampling.hash_sample(geo).select("doc_id").collect()
        )
        docs = geo.table("documents")
        try:
            docs.repartition(7).createOrReplaceTempView("documents")
            again = set(
                r["doc_id"]
                for r in sampling.hash_sample(geo).select("doc_id").collect()
            )
        finally:
            docs.createOrReplaceTempView("documents")
        assert again == base and base  # non-empty, identical membership

    def test_seed_draws_independent_sample(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        a = set(r["doc_id"] for r in sampling.hash_sample(geo).select("doc_id").collect())
        b = set(
            r["doc_id"]
            for r in sampling.hash_sample(geo, seed="other-seed").select("doc_id").collect()
        )
        assert a != b

    def test_training_mix_respects_quota_and_caps(self, geo):
        """Each stratum lands near target_rows*w (binomial noise) and an
        under-supplied stratum is kept whole (keep_fraction == 1)."""
        from geospatial_store_siting_spark.operators import sampling

        out = sampling.training_mix(geo).toPandas()
        n_lang = (
            geo.table("documents").groupBy("lang").count().toPandas()
            .set_index("lang")["count"]
        )
        for lang, w in sampling.MIX_WEIGHTS.items():
            got = (out["lang"] == lang).sum()
            quota = sampling.MIX_TARGET_ROWS * w
            if n_lang.get(lang, 0) <= quota:
                assert got == n_lang.get(lang, 0)  # kept whole
            else:
                assert abs(got - quota) < 4 * (quota ** 0.5) + 5

    def test_splits_partition_the_corpus(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        out = sampling.corpus_splits(geo).toPandas()
        total = geo.table("documents").count()
        assert out["n_docs"].sum() == total
        by_split = out.groupby("split")["n_docs"].sum()
        assert set(by_split.index) == {"train", "val", "test"}
        assert by_split["train"] > by_split["val"]


class TestPackAndVocab:
    """Sequence packing and vocabulary top-k: value parity against a
    from-scratch pandas recompute, plus the plan shapes the 100-TB
    posture depends on (one window shuffle; salted two-phase agg)."""

    def test_pack_sequences_matches_pandas_recompute(self, geo):
        from geospatial_store_siting_spark.functions.exprs import dround
        from geospatial_store_siting_spark.operators import sampling
        from geospatial_store_siting_spark.operators.text_ops import token_count_sql

        out = sampling.pack_sequences(geo).toPandas()
        base = (
            geo.table("documents")
            .select(
                "doc_id",
                "lang",
                F.expr(token_count_sql("text")).cast("bigint").alias("n_tokens"),
                dround(sampling._u_col(seed=sampling.DEFAULT_SEED), 9).alias("u"),
            )
            .toPandas()
            .sort_values(["lang", "u", "doc_id"], ignore_index=True)
        )
        before = base.groupby("lang")["n_tokens"].cumsum() - base["n_tokens"]
        base["expected"] = base["lang"] + "-" + (
            before // sampling.SEQ_TOKEN_BUDGET
        ).astype(str)
        merged = out.merge(base[["doc_id", "expected"]], on="doc_id")
        assert len(merged) == len(base) and len(base) > 0
        assert (merged["seq_id"] == merged["expected"]).all()

    def test_pack_sequences_single_shuffle(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        plan = (
            sampling.pack_sequences(geo)._jdf.queryExecution().executedPlan().toString()
        )
        # one hash-partition exchange for the per-lang window, nothing else
        assert plan.count("Exchange") == 1

    def test_vocab_topk_matches_naive_recount(self, geo):
        from collections import Counter

        from geospatial_store_siting_spark.operators import text_ops

        out = text_ops.vocab_topk(geo).toPandas()
        counts = Counter()
        for (text,) in geo.table("documents").select("text").collect():
            counts.update(text.split(" ")[: text_ops.VOCAB_TOKEN_CAP])
        expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            : text_ops.VOCAB_TOPK
        ]
        got = list(zip(out["token"], out["n_total"]))
        assert got == expected

    def test_vocab_topk_plan_is_salted_two_phase(self, geo):
        from geospatial_store_siting_spark.operators import text_ops

        df = text_ops.vocab_topk(geo)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "salt" in plan  # partial agg keyed (token, salt) before final
        assert "TakeOrderedAndProject" in plan  # top-k, never a full sort


class TestDecontaminateAndIncremental:
    """Eval-leak decontamination + incremental ingest dedup: split
    discipline, status partition invariants, and the no-broadcast gate."""

    def test_decontaminate_only_train_docs(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        out = dedup.decontaminate(geo).toPandas()
        assert len(out) > 0 and (out["n_eval_shingles"] >= 1).all()
        splits = (
            geo.table("documents")
            .select(
                "doc_id",
                F.when(
                    sampling._u_col(seed=sampling.DEFAULT_SEED)
                    < F.lit(sampling.SPLIT_BOUNDS[0]),
                    F.lit("train"),
                )
                .when(
                    sampling._u_col(seed=sampling.DEFAULT_SEED)
                    < F.lit(sampling.SPLIT_BOUNDS[1]),
                    F.lit("val"),
                )
                .otherwise(F.lit("test"))
                .alias("split"),
            )
            .toPandas()
            .set_index("doc_id")["split"]
        )
        assert (splits.loc[out["doc_id"]] == "train").all()

    def test_decontaminate_rarity_gate(self, geo):
        """No flagged doc may owe its count to a shingle with df > DF_CAP:
        recompute the rare-shingle overlap in pandas and compare counts."""
        import pandas as pd

        from geospatial_store_siting_spark.operators import sampling

        out = dedup.decontaminate(geo).toPandas().set_index("doc_id")["n_eval_shingles"]
        sh = dedup.shingles(geo).distinct().toPandas()
        df_counts = sh.groupby("shingle")["doc_id"].nunique()
        rare = sh[sh["shingle"].map(df_counts) <= dedup.DF_CAP]
        u = (
            geo.table("documents")
            .select("doc_id", sampling._u_col(seed=sampling.DEFAULT_SEED).alias("u"))
            .toPandas()
            .set_index("doc_id")["u"]
        )
        lo, hi = sampling.SPLIT_BOUNDS
        eval_sh = set(rare[rare["doc_id"].map(u) >= hi]["shingle"])
        train = rare[rare["doc_id"].map(u) < lo]
        expected = (
            train[train["shingle"].isin(eval_sh)].groupby("doc_id").size()
        )
        pd.testing.assert_series_equal(
            out.sort_index(), expected.sort_index(),
            check_names=False, check_dtype=False,
        )

    def test_incremental_statuses_partition_the_batch(self, geo):
        from geospatial_store_siting_spark.operators import sampling

        out = dedup.dedup_incremental(geo).toPandas()
        n_batch = (
            geo.table("documents")
            .filter(sampling._u_col(seed=dedup.INGEST_SEED) < F.lit(dedup.INGEST_FRACTION))
            .count()
        )
        assert len(out) == n_batch and out["doc_id"].is_unique
        assert set(out["status"]) <= {"exact_dup", "near_dup", "novel"}
        assert out.loc[out["status"] == "novel", "match_doc"].isna().all()
        assert out.loc[out["status"] != "novel", "match_doc"].notna().all()

    def test_incremental_matches_are_corpus_side(self, geo):
        """Every match_doc must come from the EXISTING corpus (not the
        incoming batch) and exact matches must share the text md5."""
        from geospatial_store_siting_spark.operators import sampling

        out = dedup.dedup_incremental(geo).toPandas()
        marked = (
            geo.table("documents")
            .select(
                "doc_id",
                F.md5("text").alias("fp"),
                (sampling._u_col(seed=dedup.INGEST_SEED) < F.lit(dedup.INGEST_FRACTION)).alias(
                    "incoming"
                ),
            )
            .toPandas()
            .set_index("doc_id")
        )
        matched = out[out["match_doc"].notna()]
        assert len(matched) > 0
        assert (~marked.loc[matched["match_doc"].astype("int64"), "incoming"]).all()
        exact = out[out["status"] == "exact_dup"]
        if len(exact):
            assert (
                marked.loc[exact["doc_id"], "fp"].values
                == marked.loc[exact["match_doc"].astype("int64"), "fp"].values
            ).all()

    def test_incremental_no_broadcast_above_gate(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = (
            dedup.dedup_incremental(geo)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastExchange" not in plan

    def test_decontaminate_no_broadcast_above_gate(self, geo, monkeypatch):
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = (
            dedup.decontaminate(geo)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastExchange" not in plan

    def test_source_report_single_agg_no_join(self, geo):
        """The per-source report is ONE hash aggregation over a map-only
        projection: no join, no window, no second shuffle beyond the
        distinct-fp expand."""
        from geospatial_store_siting_spark.operators import text_ops

        plan = (
            text_ops.corpus_source_report(geo)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan and "Window" not in plan


class TestIngestProbeIndex:
    """The committed bucketed corpus probe index: per-ingest work must be
    O(batch) — corpus sides read pre-bucketed with NO exchange and no
    broadcast above the gate."""

    def test_index_path_bucketed_scans_no_corpus_exchange(self, geo, monkeypatch):
        from tests.conftest import SF_DIR

        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        df = dedup.dedup_incremental(geo, sf_dir=SF_DIR)
        plan_text = df._jdf.queryExecution().executedPlan().toString()
        # all three probe tables (fp, band, sig) scan as bucketed —
        # hash partitioning comes from the committed layout.  (AQE must
        # be on, the production posture: the non-adaptive planner
        # conforms exchanges to spark.sql.shuffle.partitions and would
        # re-shuffle the bucketed side when the counts differ.)
        assert plan_text.count("Bucketed: true") == 3
        assert "BroadcastExchange" not in plan_text
        # no Exchange BETWEEN an index scan and the join it feeds: the
        # scan's committed hash partitioning is consumed directly (the
        # flag resets at each join boundary — exchanges above the join,
        # e.g. the near-agg shuffle, are batch-sized and expected)
        hits: list[bool] = []

        def walk(node, x_since_join: bool) -> None:
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                walk(node.initialPlan(), x_since_join)
                return
            if "Scan" in cls and "gss_bkt_" in node.toString().splitlines()[0]:
                hits.append(x_since_join)
            down = False if "Join" in cls else x_since_join
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i), down or "Exchange" in cls)

        walk(df._jdf.queryExecution().executedPlan(), False)
        assert hits == [False, False, False]

    def test_index_result_equals_inline(self, geo):
        from tests.conftest import SF_DIR

        inline = (
            dedup.dedup_incremental(geo)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        indexed = (
            dedup.dedup_incremental(geo, sf_dir=SF_DIR)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert inline.equals(indexed)

    def test_commit_bucketed_survives_catalog_loss(self, spark, tmp_path):
        """A fresh session has an empty in-memory catalog: read_bucketed
        must re-declare the table over the committed directory and the
        join must still scan it bucketed."""
        path = str(tmp_path / "probe_idx_abcdef123456")
        df = spark.range(1000).select(
            F.col("id").alias("k"), F.xxhash64("id").alias("v")
        )
        first = snapshots.commit(spark, lambda: df, path, bucket=("k", 8))
        assert first.count() == 1000
        # simulate a fresh session: drop the catalog entry, keep the files
        spark.sql(f"DROP TABLE {snapshots._bucket_table_name(path)}")
        again = snapshots.read_bucketed(spark, path)
        probe = spark.range(50).select(F.col("id").alias("k"))
        plan = (
            probe.hint("shuffle_hash")
            .join(again, "k")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan
        assert probe.join(again, "k").count() == 50


class TestChunkDocuments:
    def test_window_invariants_on_crafted_doc(self, geo):
        """Chunk boundaries, overlap, and trailing-short-chunk rule against
        a Python recomputation on a crafted 10-token doc (size=4, stride=3:
        starts 1,4,7,10 — full, full, full, trailing-short per the clamp),
        plus DuckDB oracle parity on the same crafted frame."""
        import hashlib

        import duckdb
        import pandas as pd

        from geospatial_store_siting_spark.operators import text_ops
        from geospatial_store_siting_spark.testing import frames_match

        toks = [f"t{i}" for i in range(10)]
        pdf = pd.DataFrame({"doc_id": [1], "text": [" ".join(toks)]})
        old = geo.table("documents")
        geo.createDataFrame(pdf).createOrReplaceTempView("documents")
        try:
            sdf = text_ops.chunk_documents(geo, size=4, stride=3)
            out = sdf.orderBy("chunk_idx").collect()
            con = duckdb.connect()
            con.register("documents", pdf)
            ok, msg = frames_match(
                sdf.toPandas(),
                con.execute(
                    text_ops.chunk_documents_oracle_sql(size=4, stride=3)
                ).df(),
            )
            assert ok, msg
        finally:
            old.createOrReplaceTempView("documents")
        assert [r.start_tok for r in out] == [1, 4, 7, 10]
        assert [r.chunk_idx for r in out] == [0, 1, 2, 3]
        assert [r.n_chunk_tokens for r in out] == [4, 4, 4, 1]
        for r in out:
            expected = " ".join(toks[r.start_tok - 1 : r.start_tok - 1 + 4])
            assert r.chunk_md5 == hashlib.md5(expected.encode()).hexdigest()

    def test_explode_is_shuffle_free(self, geo):
        """The chunking plan must be a pure scan+generate — any Exchange
        means cross-doc state crept in."""
        from geospatial_store_siting_spark.operators import text_ops

        plan = text_ops.chunk_documents(geo)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestClusterRepresentatives:
    def test_rep_is_quality_argmax_member(self, geo):
        """Every representative is a member of its component, carries the
        component's max quality, and ties break to the smallest doc_id —
        recomputed via an independent join against quality_score."""
        from geospatial_store_siting_spark.operators import dedup as dd
        from geospatial_store_siting_spark.operators import text_ops

        reps = dd.cluster_representatives(geo).toPandas()
        comps = dd.near_dup_components(geo).toPandas()
        q = text_ops.quality_score(geo).toPandas().set_index("doc_id")["quality"]
        assert len(reps) == comps["component"].nunique() > 0
        members = comps.groupby("component")["doc_id"].apply(list)
        for row in reps.itertuples():
            ms = members[row.component]
            assert row.rep_doc in ms
            assert row.n_members == len(ms)
            best = max(q[m] for m in ms)
            assert row.rep_quality == best
            assert row.rep_doc == min(m for m in ms if q[m] == best)


class TestCommitArrivals:
    """The maintenance half of the O(batch) ingest service: novel
    arrivals extend the committed probe index in place (per-bucket
    appends), so the NEXT batch sees them — no index rebuild."""

    def test_appended_novel_docs_dedup_the_next_batch(self, geo, tmp_path, monkeypatch):
        from tests.conftest import SF_DIR

        monkeypatch.setattr(snapshots, "DEFAULT_ROOT", str(tmp_path))
        dedup.ingest_probe_index(geo, SF_DIR)

        # a corpus-side doc (NOT in the deterministic ingest split) for
        # the exact-dup control arrival
        from geospatial_store_siting_spark.operators.sampling import _u_col

        corpus_doc = (
            geo.table("documents")
            .filter(~(_u_col(seed=dedup.INGEST_SEED) < dedup.INGEST_FRACTION))
            .select("doc_id", "text")
            .first()
        )
        novel_text = " ".join(f"zq{i}" for i in range(60))  # 60 unseen tokens
        arrivals = geo.createDataFrame(
            [(900001, novel_text), (900002, corpus_doc.text)],
            "doc_id bigint, text string",
        )
        c1 = {
            r.doc_id: r
            for r in dedup.classify_arrivals(geo, arrivals, sf_dir=SF_DIR).collect()
        }
        assert c1[900001].status == "novel"
        assert c1[900002].status == "exact_dup"
        # the synthetic corpus contains exact-dup groups: the owner is the
        # SMALLEST corpus-side doc with that text, not necessarily the
        # sampled one
        expected_owner = (
            geo.table("documents")
            .filter(~(_u_col(seed=dedup.INGEST_SEED) < dedup.INGEST_FRACTION))
            .filter(F.col("text") == corpus_doc.text)
            .agg(F.min("doc_id"))
            .collect()[0][0]
        )
        assert c1[900002].match_doc == expected_owner

        stats = dedup.commit_arrivals(geo, arrivals, SF_DIR)
        # only the novel doc is appended: 1 fp row, 1 packed signature,
        # one band key per LSH band
        assert stats == {
            "ingest_fp_idx": 1,
            "ingest_band_idx": dedup.LSH_BANDS,
            "ingest_sig_idx": 1,
        }

        # next batch: an exact copy and a 1-token near-dup of the
        # previously-novel doc — both must now classify against it
        # (the near-dup exercises the band/sig appends, not just fp)
        near_text = " ".join(f"zq{i}" for i in range(59)) + " changed"
        batch2 = geo.createDataFrame(
            [(900003, novel_text), (900004, near_text)],
            "doc_id bigint, text string",
        )
        c2 = {
            r.doc_id: r
            for r in dedup.classify_arrivals(geo, batch2, sf_dir=SF_DIR).collect()
        }
        assert c2[900003].status == "exact_dup"
        assert c2[900003].match_doc == 900001
        assert c2[900004].status == "near_dup"
        assert c2[900004].match_doc == 900001

        # the manifest carries append lineage; rows advanced
        import glob as g

        fp_dirs = g.glob(str(tmp_path / "*_ingest_fp_idx_*"))
        assert len(fp_dirs) == 1
        with open(os.path.join(fp_dirs[0], "_manifest.json")) as f:
            meta = json.load(f)
        assert len(meta["appends"]) == 1 and meta["appends"][0]["rows"] == 1

    def test_appended_index_keeps_bucketed_no_exchange_scans(
        self, geo, tmp_path, monkeypatch
    ):
        """Appends add files per bucket but must NOT cost the committed
        layout's exchange elision: the probe plan still scans all three
        index tables bucketed, with no corpus-side exchange."""
        from tests.conftest import SF_DIR

        monkeypatch.setattr(snapshots, "DEFAULT_ROOT", str(tmp_path))
        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        dedup.ingest_probe_index(geo, SF_DIR)
        arrivals = geo.createDataFrame(
            [(910001, " ".join(f"wq{i}" for i in range(50)))],
            "doc_id bigint, text string",
        )
        dedup.commit_arrivals(geo, arrivals, SF_DIR)
        plan_text = (
            dedup.dedup_incremental(geo, sf_dir=SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan_text.count("Bucketed: true") == 3
        assert "BroadcastExchange" not in plan_text


class TestCompactBucketed:
    def test_compaction_restores_one_file_per_bucket_and_plans(
        self, geo, tmp_path, monkeypatch
    ):
        """After appends pile small files into the index buckets,
        compaction rewrites each table to one file per occupied bucket
        with identical rows, and the probe plan still scans all three
        tables bucketed with no corpus-side exchange."""
        from tests.conftest import SF_DIR

        monkeypatch.setattr(snapshots, "DEFAULT_ROOT", str(tmp_path))
        dedup.ingest_probe_index(geo, SF_DIR)
        for i in range(2):  # two ingest triggers of one novel doc each
            arrivals = geo.createDataFrame(
                [(920001 + i, " ".join(f"cp{i}x{j}" for j in range(50)))],
                "doc_id bigint, text string",
            )
            dedup.commit_arrivals(geo, arrivals, SF_DIR)

        import glob as g

        fp_dir = g.glob(str(tmp_path / "*_ingest_fp_idx_*"))[0]
        before = dedup.ingest_probe_index(geo, SF_DIR)[0].orderBy("fp").toPandas()
        stats = dedup.compact_ingest_index(geo, SF_DIR)
        assert stats["ingest_fp_idx"]["files_after"] < stats["ingest_fp_idx"]["files_before"]

        after = dedup.ingest_probe_index(geo, SF_DIR)[0].orderBy("fp").toPandas()
        assert before.equals(after)
        # appended docs still resolve post-compaction
        c = dedup.classify_arrivals(
            geo,
            geo.createDataFrame(
                [(930001, " ".join(f"cp0x{j}" for j in range(50)))],
                "doc_id bigint, text string",
            ),
            sf_dir=SF_DIR,
        ).collect()[0]
        assert c.status == "exact_dup" and c.match_doc == 920001
        # manifest lineage records the compaction
        with open(os.path.join(fp_dir, "_manifest.json")) as f:
            meta = json.load(f)
        assert len(meta.get("compactions", [])) == 1

        plan_text = (
            dedup.dedup_incremental(geo, sf_dir=SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan_text.count("Bucketed: true") == 3


class TestNgramQualitySignals:
    """Round-5 additions: dup-3-gram repetition (Gopher), cross-doc
    boilerplate n-grams (CCNet line-dedup analogue), unigram surprisal
    (perplexity-filter proxy) — crafted-fixture exactness + invariants."""

    def _with_docs(self, geo, rows):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pdf["lang"] = "en"
        pdf["source"] = "crafted"
        pdf["n_chars"] = pdf["text"].str.len()
        old = geo.table("documents")
        geo.createDataFrame(pdf).createOrReplaceTempView("documents")
        return old, pdf

    def test_dup_ngram_fraction_crafted(self, geo):
        """A doc looping one phrase has dup_ratio > 0 and matches a hand
        count; an all-distinct-shingle doc reports exactly 0; oracle
        parity holds on the crafted frame."""
        import duckdb

        from geospatial_store_siting_spark.operators import text_ops
        from geospatial_store_siting_spark.testing import frames_match

        loop = "spam ham eggs " * 4  # 3-gram 'spam ham eggs' recurs
        clean = " ".join(f"w{i}" for i in range(12))
        old, pdf = self._with_docs(geo, [(1, loop.strip()), (2, clean)])
        try:
            out = (
                text_ops.dup_ngram_fraction(geo)
                .toPandas()
                .set_index("doc_id")
            )
            # doc 1: 12 tokens -> 10 shingles, every rotation recurs >=2x
            assert out.loc[1, "n_shingles"] == 10
            assert out.loc[1, "n_dup"] == 10
            assert out.loc[1, "dup_ratio"] == 1.0
            assert out.loc[2, "n_dup"] == 0
            assert out.loc[2, "dup_ratio"] == 0.0
            con = duckdb.connect()
            con.register("documents", pdf)
            ok, msg = frames_match(
                text_ops.dup_ngram_fraction(geo).toPandas(),
                con.execute(text_ops.dup_ngram_fraction_oracle_sql()).df(),
            )
            assert ok, msg
        finally:
            old.createOrReplaceTempView("documents")

    def test_boilerplate_threshold_and_ratio(self, geo):
        """A 3-gram shared by >= BOILERPLATE_MIN_DF docs is boilerplate for
        each of them; a doc with no shared shingles reports ratio 0 (the
        left-join zero row survives, not dropped)."""
        from geospatial_store_siting_spark.operators import text_ops

        shared = "terms of service apply here"
        rows = [(i, f"{shared} x{i} y{i} z{i}") for i in range(1, 4)]
        rows.append((9, " ".join(f"u{i}" for i in range(10))))
        old, _ = self._with_docs(geo, rows)
        try:
            out = (
                text_ops.boilerplate_ngrams(geo).toPandas().set_index("doc_id")
            )
            # 'terms of service', 'of service apply', 'service apply here'
            # appear in docs 1-3 (df=3 >= floor 3); suffix shingles are
            # per-doc unique
            for d in (1, 2, 3):
                assert out.loc[d, "n_boiler"] == 3
                assert 0 < out.loc[d, "boilerplate_ratio"] < 1
            assert out.loc[9, "n_boiler"] == 0
            assert out.loc[9, "boilerplate_ratio"] == 0.0
        finally:
            old.createOrReplaceTempView("documents")

    def test_unigram_surprisal_exact_micros(self, geo):
        """Fixed-point protocol exactness: per-doc mean surprisal equals a
        numpy recomputation of floor-micro log2 terms (order-independent
        BIGINT sums), and a rare-token doc scores above a stopword doc."""
        import math

        from geospatial_store_siting_spark.operators import text_ops

        rows = [
            (1, "the the the the"),
            (2, "the the qwerty the"),
        ]
        old, _ = self._with_docs(geo, rows)
        try:
            out = (
                text_ops.unigram_surprisal(geo).toPandas().set_index("doc_id")
            )
            # vocab: the=7, qwerty=1, N=8
            m_the = math.floor((math.log2(8) - math.log2(7)) * 1e6 + 0.5)
            m_q = math.floor((math.log2(8) - math.log2(1)) * 1e6 + 0.5)
            assert out.loc[1, "sum_micros"] == 4 * m_the
            assert out.loc[2, "sum_micros"] == 3 * m_the + m_q
            exp2 = math.floor(((3 * m_the + m_q) / 1e6 / 4) * 1e6 + 0.5) / 1e6
            assert out.loc[2, "avg_surprisal"] == exp2
            assert out.loc[2, "avg_surprisal"] > out.loc[1, "avg_surprisal"]
        finally:
            old.createOrReplaceTempView("documents")

    def test_signal_plans_stay_jvm_side(self, geo):
        """No Python UDFs anywhere in the three signal plans (map-only
        expressions + hash aggs; the perplexity join broadcasts the vocab
        dim)."""
        from geospatial_store_siting_spark.operators import text_ops

        for fn in (
            text_ops.dup_ngram_fraction,
            text_ops.boilerplate_ngrams,
            text_ops.unigram_surprisal,
        ):
            plan = fn(geo)._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_unigram_oov_default_is_log2_n(self, geo, monkeypatch):
        """When the vocabulary is capped (production top-K shape), tokens
        missing from the dim must score the OOV default log2(N) — not
        NULL (the joined vocab columns are NULL on a miss, so the default
        must come from the broadcast totals row)."""
        import math

        from geospatial_store_siting_spark.operators import skew, text_ops

        rows = [(1, "the the the the"), (2, "the the qwerty the")]
        old, _ = self._with_docs(geo, rows)
        real = skew.salted_sum

        def capped(df, key, cols, salt_source, **kw):
            return real(df, key, cols, salt_source, **kw).filter(
                F.col("token") != "qwerty"
            )

        monkeypatch.setattr(skew, "salted_sum", capped)
        try:
            out = (
                text_ops.unigram_surprisal(geo).toPandas().set_index("doc_id")
            )
            # capped vocab = {the: 7}, N = 7; OOV term = log2(7) micros
            oov = math.floor(math.log2(7) * 1e6 + 0.5)
            assert out.loc[2, "sum_micros"] == oov  # 3 zero terms + OOV
            assert not out["avg_surprisal"].isna().any()
        finally:
            old.createOrReplaceTempView("documents")


class TestPolygonCellCover:
    """Polyfill + the shuffle-free broadcast cover join (pip.py)."""

    def test_interior_cells_fully_inside(self):
        """Every interior-marked cell's 6 hex corners must pass the
        independent ray-cast — interior hits skip refinement, so a false
        interior would mis-assign points near the boundary."""
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        rows = pip.polygon_cell_cover()
        polys = {p["poly_id"]: np.asarray(p["verts"]) for p in pip.synthetic_polygons()}
        interior = [r for r in rows if r["interior"]]
        assert len(interior) > 1000
        cells = np.array([r["cell"] for r in interior])
        q, r_, _res = hexgrid.cell_to_qr(cells)
        clat, clon = pip._cell_corners(q, r_, 8)
        for i, row in enumerate(interior):
            assert pip._ray_cast(clat[i], clon[i], polys[row["poly_id"]]).all()

    def test_cover_completeness_random_interior_points(self):
        """Any point inside a polygon must land in a cell the cover maps to
        that polygon (convex-combination samples, strictly inside)."""
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        cover: dict[int, set] = {}
        for r in pip.polygon_cell_cover():
            cover.setdefault(r["cell"], set()).add(r["poly_id"])
        rng = np.random.default_rng(11)
        for p in pip.synthetic_polygons():
            vs = np.asarray(p["verts"])
            c = vs.mean(axis=0)
            w = rng.uniform(0, 0.999, 200)
            v = vs[rng.integers(0, 6, 200)]
            pts = c[None, :] + (v - c[None, :]) * w[:, None]
            cells = hexgrid.latlng_to_cell(pts[:, 0], pts[:, 1], 8)
            assert all(p["poly_id"] in cover.get(int(cl), set()) for cl in cells)

    def test_cover_rows_are_pinned(self):
        """The synthetic layer's cover, row for row: the general polyfill
        reproduces what the convex-only builder emitted (sha256 of the
        sorted (cell, poly_id, priority, interior) rows, from that builder)."""
        import hashlib

        from geospatial_store_siting_spark.operators import pip

        rows = sorted(
            (r["cell"], r["poly_id"], r["priority"], r["interior"])
            for r in pip.polygon_cell_cover()
        )
        assert len(rows) == 12083
        assert hashlib.sha256(repr(rows).encode()).hexdigest() == (
            "374e089af1903660d8c123ac776c3d8059212d274fbd4a6c214ce3ab5350e9cc"
        )

    def test_cover_join_matches_halfplane_case(self, geo):
        """End-to-end equivalence on real sites: broadcast-cover plan ==
        the ordered half-plane CASE (same rule the DuckDB oracle runs)."""
        from geospatial_store_siting_spark.operators import pip

        got = pip.pip_join(geo).select("site_id", "poly_id", "poly_zone")
        pid, zone = pip.pip_zone_case_sql("lat", "lon")
        want = geo.table("sites").select(
            "site_id",
            F.expr(pid).cast("long").alias("poly_id"),
            F.expr(zone).alias("poly_zone"),
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_cover_join_plan_is_shuffle_free_and_jvm_only(self, geo):
        """The scale contract: Scan -> BroadcastHashJoin -> Project. No
        shuffle exchange, no Python/Arrow eval anywhere in the plan."""
        from geospatial_store_siting_spark.operators import pip

        plan = pip.pip_join(geo)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "ShuffleExchange" not in plan and "hashpartitioning" not in plan
        assert "Python" not in plan and "ArrowEval" not in plan


class TestHybridPIP:
    """General-polygon polyfill + the broadcast pip_join over it (interior
    cells decided by the cell join, boundary cells by the SQL ray cast)."""

    L_SHAPE = {
        "poly_id": 7, "metro": None, "zone": None,
        "verts": [(41.80, -87.70), (41.80, -87.54), (41.88, -87.54),
                  (41.88, -87.62), (41.96, -87.62), (41.96, -87.70)],
    }

    def test_general_cover_interior_purity_nonconvex(self):
        """Random points inside an interior-marked hex of the L-shape must
        be inside the polygon — a hex spanning the notch with all corners
        inside must NOT be marked interior (the edge-crossing test)."""
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        rows = pip.polygon_cell_cover([self.L_SHAPE])
        ints = [r for r in rows if r["interior"]]
        assert len(ints) > 100
        vs = np.asarray(self.L_SHAPE["verts"])
        cells = np.array([r["cell"] for r in ints])
        q, r_, _ = hexgrid.cell_to_qr(cells)
        clat, clon = pip._cell_corners(q, r_, 8)
        rng = np.random.default_rng(5)
        w = rng.dirichlet(np.ones(6), size=(len(ints), 20))
        plat = (w * clat[:, None, :]).sum(axis=2).ravel()
        plon = (w * clon[:, None, :]).sum(axis=2).ravel()
        assert pip._ray_cast(plat, plon, vs).all()

    def test_general_cover_completeness_nonconvex(self):
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        cov = {r["cell"] for r in pip.polygon_cell_cover([self.L_SHAPE])}
        vs = np.asarray(self.L_SHAPE["verts"])
        rng = np.random.default_rng(6)
        lat = rng.uniform(41.801, 41.959, 3000)
        lon = rng.uniform(-87.699, -87.541, 3000)
        inside = pip._ray_cast(lat, lon, vs)
        cells = hexgrid.latlng_to_cell(lat[inside], lon[inside], 8)
        assert all(int(c) in cov for c in cells)

    def test_hybrid_matches_raycast_on_nonconvex(self, spark):
        import numpy as np
        import pandas as pd

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        vs = np.asarray(self.L_SHAPE["verts"])
        rng = np.random.default_rng(8)
        lat = rng.uniform(41.79, 41.97, 2000)
        lon = rng.uniform(-87.71, -87.53, 2000)
        pts = spark.createDataFrame(pd.DataFrame({
            "site_id": np.arange(2000), "lat": lat, "lon": lon,
            "h3_res8": hexgrid.latlng_to_cell(lat, lon, 8)}))
        got = (
            pip.pip_join(spark, points=pts, polys=[self.L_SHAPE])
            .toPandas().set_index("site_id").sort_index()
        )
        want = np.where(pip._ray_cast(lat, lon, vs), 7, -1)
        assert (got["poly_id"].values == want).all()

    def test_hybrid_matches_case_on_synthetic_layer(self, geo):
        from geospatial_store_siting_spark.operators import pip

        got = pip.pip_join(geo).select("site_id", "poly_id", "poly_zone")
        pid, zone = pip.pip_zone_case_sql("lat", "lon")
        want = geo.table("sites").select(
            "site_id",
            F.expr(pid).cast("long").alias("poly_id"),
            F.expr(zone).alias("poly_zone"),
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_boundary_rim_is_small_fraction(self):
        """The scale contract: only ~10% of cover cells (the rim) pay the
        exact ray cast; >=85% of the synthetic layer's cover is interior."""
        from geospatial_store_siting_spark.operators import pip

        rows = pip.polygon_cell_cover(pip.synthetic_polygons())
        frac = sum(1 for r in rows if not r["interior"]) / len(rows)
        assert frac < 0.15


class TestPIPHoles:
    """Polygon-with-holes polyfill: even-odd membership across rings,
    hole edges demote crossed hexes, and a hole wholly inside one hex
    (no corner/crossing trace) still demotes that hex to boundary."""

    DONUT = {
        "poly_id": 3, "metro": None, "zone": None,
        "verts": [(41.80, -87.70), (41.80, -87.54), (41.96, -87.54), (41.96, -87.70)],
        "holes": [[(41.85, -87.65), (41.85, -87.59), (41.91, -87.59), (41.91, -87.65)]],
    }

    def test_donut_interior_purity_and_completeness(self):
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        rows = pip.polygon_cell_cover([self.DONUT])
        rings = pip._rings(self.DONUT)
        ints = [r for r in rows if r["interior"]]
        assert len(ints) > 100
        cells = np.array([r["cell"] for r in ints])
        q, r_, _ = hexgrid.cell_to_qr(cells)
        clat, clon = pip._cell_corners(q, r_, 8)
        rng = np.random.default_rng(5)
        w = rng.dirichlet(np.ones(6), size=(len(ints), 20))
        plat = (w * clat[:, None, :]).sum(axis=2).ravel()
        plon = (w * clon[:, None, :]).sum(axis=2).ravel()
        assert pip._ray_cast_rings(plat, plon, rings).all()
        cov = {r["cell"] for r in rows}
        lat = rng.uniform(41.801, 41.959, 3000)
        lon = rng.uniform(-87.699, -87.541, 3000)
        inside = pip._ray_cast_rings(lat, lon, rings)
        cells_in = hexgrid.latlng_to_cell(lat[inside], lon[inside], 8)
        assert all(int(c) in cov for c in cells_in)

    def test_hole_smaller_than_one_hex_demotes_it(self):
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        tiny = dict(self.DONUT, poly_id=4, holes=[[
            (41.8801, -87.6201), (41.8801, -87.6199),
            (41.8799, -87.6199), (41.8799, -87.6201)]])
        rows = pip.polygon_cell_cover([tiny])
        hole_cell = int(
            hexgrid.latlng_to_cell(np.array([41.88]), np.array([-87.62]), 8)[0]
        )
        stat = {r["cell"]: r["interior"] for r in rows}
        assert stat.get(hole_cell) is False  # present, demoted to boundary

    def test_hybrid_matches_even_odd_on_donut(self, spark):
        import numpy as np
        import pandas as pd

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        rings = pip._rings(self.DONUT)
        rng = np.random.default_rng(9)
        lat = rng.uniform(41.79, 41.97, 2000)
        lon = rng.uniform(-87.71, -87.53, 2000)
        pts = spark.createDataFrame(pd.DataFrame({
            "site_id": np.arange(2000), "lat": lat, "lon": lon,
            "h3_res8": hexgrid.latlng_to_cell(lat, lon, 8)}))
        got = (
            pip.pip_join(spark, points=pts, polys=[self.DONUT])
            .toPandas().set_index("site_id").sort_index()
        )
        want = np.where(pip._ray_cast_rings(lat, lon, rings), 3, -1)
        assert (got["poly_id"].values == want).all()

    @pytest.mark.parametrize(
        "poly", [TestHybridPIP.L_SHAPE, DONUT], ids=["l_shape", "donut"]
    )
    def test_general_polygons_stay_in_jvm(self, spark, poly):
        """Concave rings and holes take the same broadcast plan as the
        convex layer: the rim's ray cast is SQL, so no shuffle and no
        Python/Arrow eval."""
        import re

        import numpy as np
        import pandas as pd

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        rng = np.random.default_rng(13)
        lat = rng.uniform(41.79, 41.97, 200)
        lon = rng.uniform(-87.71, -87.53, 200)
        pts = spark.createDataFrame(pd.DataFrame({
            "site_id": np.arange(200), "lat": lat, "lon": lon,
            "h3_res8": hexgrid.latlng_to_cell(lat, lon, 8)}))
        plan = (
            pip.pip_join(spark, points=pts, polys=[poly])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert not re.search(r"(?<!Broadcast)Exchange", plan)
        assert "Python" not in plan and "ArrowEval" not in plan


class TestDistributedPIP:
    """Census-scale PIP: distributed polyfill (mapInPandas over polygon
    partitions) + shuffle cover join + boundary-only Arrow refine."""

    def test_distributed_matches_case_on_synthetic_layer(self, geo):
        from geospatial_store_siting_spark.operators import pip

        got = pip.pip_join(geo, polys=pip.polygons_df(geo)).select(
            "site_id", "poly_id", "poly_zone"
        )
        pid, zone = pip.pip_zone_case_sql("lat", "lon")
        want = geo.table("sites").select(
            "site_id",
            F.expr(pid).cast("long").alias("poly_id"),
            F.expr(zone).alias("poly_zone"),
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_distributed_plan_has_no_broadcast(self, geo):
        """The big-layer contract: neither the cover nor the layer is ever
        broadcast or collected — the join is a shuffle hash join."""
        from geospatial_store_siting_spark.operators import pip

        plan = (
            pip.pip_join(geo, polys=pip.polygons_df(geo))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan

    def test_distributed_polyfill_equals_driver_polyfill(self, geo):
        """The mapInPandas polyfill must emit the same (cell, poly_id,
        priority, interior) set as the driver-side builder."""
        from geospatial_store_siting_spark.operators import pip

        dist = {
            (int(r.cell), int(r.poly_id), int(r.priority), bool(r.interior))
            for r in pip.polyfill_distributed(geo)
            .select("cell", "poly_id", "priority", "interior")
            .toPandas()
            .itertuples(index=False)
        }
        drv = {
            (r["cell"], r["poly_id"], r["priority"], r["interior"])
            for r in pip.polygon_cell_cover(pip.synthetic_polygons())
        }
        assert dist == drv

    def test_distributed_handles_holes(self, spark):
        import json

        import numpy as np
        import pandas as pd

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip

        donut = {
            "poly_id": 3, "metro": None, "zone": None,
            "verts": [(41.80, -87.70), (41.80, -87.54),
                      (41.96, -87.54), (41.96, -87.70)],
            "holes": [[(41.85, -87.65), (41.85, -87.59),
                       (41.91, -87.59), (41.91, -87.65)]],
        }
        layer = pip.polygons_df(spark, [donut])
        assert json.loads(layer.first()["rings_json"])[1]  # hole survived
        rng = np.random.default_rng(12)
        lat = rng.uniform(41.79, 41.97, 1500)
        lon = rng.uniform(-87.71, -87.53, 1500)
        pts = spark.createDataFrame(pd.DataFrame({
            "site_id": np.arange(1500), "lat": lat, "lon": lon,
            "h3_res8": hexgrid.latlng_to_cell(lat, lon, 8)}))
        got = (
            pip.pip_join(spark, points=pts, polys=layer)
            .toPandas().set_index("site_id").sort_index()
        )
        want = np.where(pip._ray_cast_rings(lat, lon, pip._rings(donut)), 3, -1)
        assert (got["poly_id"].values == want).all()


class TestCellGeometryAPIs:
    """H3-parity cell_to_boundary / grid_distance over the lattice."""

    def test_boundary_matches_numpy_codec_bitwise(self, geo):
        """SQL corners == the numpy kernel's corners exactly (same sin/cos
        literals, same op order) — three formulations, one geometry."""
        import numpy as np

        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import pip, rings

        pb = (
            rings.cell_boundaries(geo).toPandas()
            .sort_values(["cell_id", "corner"]).reset_index(drop=True)
        )
        cells = pb["cell_id"].unique()
        q, r, _ = hexgrid.cell_to_qr(cells)
        clat, clon = pip._cell_corners(q, r, 8)
        got_lat = pb["corner_lat"].to_numpy().reshape(len(cells), 6)
        got_lon = pb["corner_lon"].to_numpy().reshape(len(cells), 6)
        assert (got_lat == clat).all() and (got_lon == clon).all()

    def test_grid_distance_decode_roundtrip(self, geo):
        """ring_steps re-derives (q, r) from the packed cell id — must
        equal the distance computed from the stored axial coords."""
        import numpy as np

        from geospatial_store_siting_spark.config import METROS
        from geospatial_store_siting_spark.functions import hexgrid
        from geospatial_store_siting_spark.operators import rings

        got = rings.metro_center_distance(geo).toPandas().set_index("site_id")
        sites = geo.table("sites").select("site_id", "metro", "q", "r").toPandas()
        centers = {
            m[0]: hexgrid.latlng_to_qr(np.array([m[1]]), np.array([m[2]]), 8)
            for m in METROS
        }
        for row in sites.itertuples():
            cq, cr = centers[row.metro]
            dq, dr = row.q - int(cq[0]), row.r - int(cr[0])
            want = (abs(dq) + abs(dr) + abs(dq + dr)) // 2
            assert got.loc[row.site_id, "ring_steps"] == want
