"""Round-6 optimization internals: warm-path stage resolution without
plan construction, and the layout stats guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geospatial_store_siting_spark.operators import dedup, plan_choice
from geospatial_store_siting_spark.sources import iceberg


class TestStageWarmFastLane:
    """_stage_or_checkpoint with a callable plan: the warm path must
    resolve the committed content-keyed stage WITHOUT invoking the
    plan-producing callable (the r6 fix for dedup_incremental's 2.2 s of
    driver-serial plan construction per call)."""

    def test_committed_stage_skips_plan_construction(self, spark, tmp_path):
        sf_dir = str(tmp_path / "sf")
        df = spark.range(5).select(F.col("id").alias("doc_id"))
        cold = dedup._stage_or_checkpoint(
            spark, lambda: df, "r6_fastlane", "r6-fastlane-sql|v1", sf_dir
        )
        assert cold.count() == 5

        def boom():
            raise AssertionError("plan constructed on the warm path")

        warm = dedup._stage_or_checkpoint(
            spark, boom, "r6_fastlane", "r6-fastlane-sql|v1", sf_dir
        )
        assert warm.count() == 5
        assert [r.doc_id for r in warm.orderBy("doc_id").collect()] == list(range(5))

    def test_force_recomputes_through_the_callable(self, spark, tmp_path):
        sf_dir = str(tmp_path / "sf")
        dedup._stage_or_checkpoint(
            spark, lambda: spark.range(3).select(F.col("id").alias("doc_id")),
            "r6_force", "r6-force-sql|v1", sf_dir,
        )
        calls = []

        def rebuild():
            calls.append(1)
            return spark.range(4).select(F.col("id").alias("doc_id"))

        forced = dedup._stage_or_checkpoint(
            spark, rebuild, "r6_force", "r6-force-sql|v1", sf_dir, force=True
        )
        assert calls and forced.count() == 4

    def test_key_mismatch_falls_through_to_write(self, spark, tmp_path):
        sf_dir = str(tmp_path / "sf")
        iceberg.write_stage(
            spark, lambda: spark.range(2), "r6_absent", sf_dir, content_key="old-key",
            root=str(tmp_path / "stages"),
        )
        calls = []

        def build():
            calls.append(1)
            return spark.range(3)

        fresh = iceberg.write_stage(
            spark, build, "r6_absent", sf_dir, content_key="no-such-key",
            root=str(tmp_path / "stages"),
        )
        assert calls == [1]
        assert fresh.count() == 3

    def test_bucketed_fast_lane_matches_writer(self, spark, tmp_path):
        sf_dir = str(tmp_path / "sf")
        df = spark.range(20).select(
            F.col("id").alias("fp"), (F.col("id") % 3).alias("exact_match")
        )
        written = iceberg.write_stage(
            spark, df, "r6_bidx", sf_dir, content_key="r6-bidx|v1", bucket=("fp", 4),
            root=str(tmp_path / "stages"),
        )

        def boom():
            raise AssertionError("plan constructed on the warm path")

        fast = iceberg.write_stage(
            spark, boom, "r6_bidx", sf_dir, content_key="r6-bidx|v1", bucket=("fp", 4),
            root=str(tmp_path / "stages"),
        )
        assert fast.count() == written.count() == 20
        # the fast-lane reader keeps the bucketed (exchange-free) scan side
        plan = (
            fast.groupBy("fp").count()._jdf.queryExecution()  # noqa: SLF001
            .executedPlan().toString()
        )
        assert "Bucketed: true" in plan


    def test_unigram_vocab_stage_skips_vocab_plan(self, geo, monkeypatch):
        """With the unigram_vocab stage committed, unigram_surprisal reads
        it back without building the vocabulary plan."""
        from geospatial_store_siting_spark.operators import skew, text_ops
        from tests.conftest import SF_DIR

        def scores():
            out = text_ops.unigram_surprisal(geo, sf_dir=SF_DIR).toPandas()
            return out.sort_values("doc_id").reset_index(drop=True)

        first = scores()

        def boom(*args, **kwargs):
            raise AssertionError("vocabulary plan built on the warm path")

        monkeypatch.setattr(skew, "salted_sum", boom)
        assert scores().equals(first)


class TestExactProbeShape:
    def test_exact_probe_is_left_outer_build_left_hash_join(self, geo, monkeypatch):
        """Above the gate the exact probe of dedup_incremental is ONE
        shuffled-hash join on fp, LeftOuter with the batch as the build
        (left) side, and nothing is broadcast."""
        import re

        from tests.conftest import SF_DIR

        monkeypatch.setattr(plan_choice, "CORPUS_LIMIT", 0)
        plan = (
            dedup.dedup_incremental(geo, sf_dir=SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        )
        assert "BroadcastExchange" not in plan
        probes = re.findall(
            r"ShuffledHashJoin \[fp#\d+\], \[fp#\d+\], LeftOuter, BuildLeft", plan
        )
        assert len(probes) == 1, plan


class TestRowGroupStatsGuard:
    def test_missing_stats_count_as_touched(self, spark, tmp_path):
        from geospatial_store_siting_spark.sources import layout

        path = str(tmp_path / "nostats")
        (
            spark.range(100)
            .select((F.col("id") % 10).alias("q"), (F.col("id") % 7).alias("r"))
            .write.option("parquet.column.statistics.enabled", "false")
            .mode("overwrite").parquet(path)
        )
        import glob

        import pyarrow.parquet as pq

        f = sorted(glob.glob(f"{path}/*.parquet"))[0]
        meta = pq.ParquetFile(f).metadata
        if meta.row_group(0).column(0).statistics is not None:
            pytest.skip("parquet writer ignored the statistics-disable option")
        touched, total = layout.row_groups_touched(path, (0, 1), (0, 1))
        assert total >= 1
        # stats disabled -> nothing prunable, never an AttributeError
        assert touched == total
