"""The scale harness's replica builder (``BENCH/scale.py``): a key-shifted
×2 copy of the sf0.001 base tables, checked table by table, and the
catalog loaded over it.  No profile worker runs."""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from geospatial_store_siting_spark.sources import snapshots, tables

from tests.conftest import SF_DIR

_SPEC = importlib.util.spec_from_file_location(
    "bench_scale",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "scale.py"),
)
scale = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(scale)

ENTITIES = ("customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
KEYS = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id"}
FOREIGN = {("orders", "o_custkey"): "customer", ("lineitem", "l_orderkey"): "orders",
           ("lineitem", "l_partkey"): "part", ("lineitem", "l_suppkey"): "supplier",
           ("events", "user_id"): "customer"}


@pytest.fixture(scope="module")
def replica(tmp_path_factory):
    return scale.build_replica(SF_DIR, 2, str(tmp_path_factory.mktemp("replicas")))


def _read(d: str, table: str):
    return pq.read_table(os.path.join(d, f"{table}.parquet"))


def test_entities_double_and_dimensions_stay_single(replica):
    for table in ENTITIES:
        assert _read(replica, table).num_rows == 2 * _read(SF_DIR, table).num_rows, table
    for table in ("region", "nation"):
        assert _read(replica, table).equals(_read(SF_DIR, table).replace_schema_metadata(None))


def test_keys_stay_unique(replica):
    for table, key in KEYS.items():
        col = _read(replica, table)[key]
        assert pc.count_distinct(col).as_py() == len(col), table
    li = _read(replica, "lineitem").select(["l_orderkey", "l_linenumber"]).to_pylist()
    base = _read(SF_DIR, "lineitem").select(["l_orderkey", "l_linenumber"]).to_pylist()
    assert len({tuple(r.values()) for r in li}) == 2 * len({tuple(r.values()) for r in base})


def test_foreign_keys_shift_with_their_target(replica):
    offset = {t: pc.max(_read(SF_DIR, t)[k]).as_py() + 1 for t, k in KEYS.items()}
    for (table, col), target in FOREIGN.items():
        base = _read(SF_DIR, table)[col].to_pylist()
        copy = _read(replica, table)[col].to_pylist()
        assert copy[: len(base)] == base, (table, col)
        assert copy[len(base):] == [v + offset[target] for v in base], (table, col)
    # the copy's keys move by their own table's offset, so its joins stay inside it
    for table, key in KEYS.items():
        base = _read(SF_DIR, table)[key].to_pylist()
        assert _read(replica, table)[key].to_pylist()[len(base):] == [v + offset[table] for v in base]


def test_copied_documents_are_distinct_texts(replica):
    base = _read(SF_DIR, "documents").to_pylist()
    copy = _read(replica, "documents").to_pylist()[len(base):]
    for b, c in zip(base, copy):
        assert c["text"] != b["text"]
        assert c["text"] == " ".join(f"{t}_1" for t in b["text"].split(" "))
        assert c["n_chars"] == len(c["text"])


def test_builder_digest_names_the_directory(replica):
    assert os.path.basename(replica).endswith(f"_x2_{scale.builder_digest(SF_DIR)}")
    assert scale.build_replica(SF_DIR, 2, os.path.dirname(replica)) == replica  # reused
    assert not glob.glob(f"{replica}.tmp-*")


def test_catalog_over_replica_doubles_sites(geo, replica):
    base = geo.table("sites").count()
    try:
        tables.load_all(geo, replica)
        assert geo.table("sites").count() == 2 * base
    finally:
        tables.load_all(geo, SF_DIR)  # later tests read the sf0.001 catalog
        for d in glob.glob(os.path.join(snapshots.DEFAULT_ROOT, f"{os.path.basename(replica)}_*")):
            shutil.rmtree(d, ignore_errors=True)
