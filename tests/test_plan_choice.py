"""Guard: operators/plan_choice.py is the only owner of the size gates."""

from __future__ import annotations

import importlib
import inspect
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "geospatial_store_siting_spark"

DELETED = [
    ("operators.features", "_dim_small"),
    ("operators.features", "_DIM_CACHE_ATTR"),
    ("operators.features", "invalidate_dim_cache"),
    ("operators.features", "record_table_rows"),
    ("operators.features", "BROADCAST_DIM_LIMIT"),
    ("operators.dedup", "_corpus_small"),
    ("operators.dedup", "_scale_hint"),
    ("operators.dedup", "DEDUP_BROADCAST_DOC_LIMIT"),
    ("operators.huff", "_supply_small"),
    ("operators.huff", "denominators_for_join"),
]


def test_gate_state_lives_only_in_plan_choice():
    owner = PKG / "operators" / "plan_choice.py"
    pat = re.compile(r"_gss_table_rows|\bDIM_LIMIT\b|\bCORPUS_LIMIT\b")
    for path in PKG.rglob("*.py"):
        if path != owner:
            assert not pat.search(path.read_text()), path
    assert len(pat.findall(owner.read_text())) >= 3
    # no deleted gate name survives, and no gate counts an arbitrary frame
    for module, name in DELETED:
        mod = importlib.import_module(f"geospatial_store_siting_spark.{module}")
        assert not hasattr(mod, name), f"{module}.{name}"
    from geospatial_store_siting_spark.operators import features

    assert "competitors_df" not in inspect.signature(features.competition_distance).parameters
    assert "stores_df" not in inspect.signature(features.cannibalization).parameters
    assert importlib.util.find_spec("geospatial_store_siting_spark.functions.kernels") is None
