"""The traced run's layer pass: one call into each layer the app
workloads do not reach, made after the timed phase, and its checks.

- Analyst leaves: one call each of the feature, scoring, huff, knn,
  isochrone, PIP (``mapInPandas``: the Python/Arrow boundary), zonal,
  hotspot, dev-signal and document-span operators, collected to pandas.
  The feature leaf is committed through ``sources.iceberg.write_stage``
  into a run-local stage root first, so the stage-commit path is timed
  too, and scoring reads the committed stage.
  Each reply must equal its ``__spark_entry__.oracle_sql()`` query.
- Ingest: one seeded arrival batch through ``dedup.classify_arrivals`` and
  ``dedup.commit_arrivals``, then a probe batch classified before and
  after ``dedup.compact_ingest_index``.  ``commit_arrivals`` mutates the
  committed probe index, so the index is restored from the build's
  pristine copy before and after the pass.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time

import observe

N_COPY, N_EDIT, N_NOVEL = 20, 20, 20  # arrival batch mix
NOVEL_WORDS = 30
INDEX_TABLES = ("ingest_fp_idx", "ingest_band_idx", "ingest_sig_idx")


def _leaves():
    """``__spark_entry__`` query name -> call, one per layer."""
    from geospatial_store_siting_spark.operators import (
        dev_signals, hotspots, huff, isochrone, knn, pip, zonal,
    )
    from geospatial_store_siting_spark.sources import documents

    return {
        "huff_features": huff.huff_features,
        "knn_competitors": knn.knn_competitors,
        "catchment_isochrone": isochrone.catchment_reach,
        "pip_index_assignments": lambda s: pip.pip_join(s).select("site_id", "poly_id", "poly_zone"),
        "zonal_stats": zonal.zonal_stats,
        "emerging_hotspots": hotspots.emerging_hotspots,
        "dev_signal_ring1": lambda s: dev_signals.dev_signal_ring(s, 1),
        "doc_cells": documents.doc_cells,
    }


def ingest_index_dirs(sf: str) -> dict[str, str]:
    """Directories of the committed ingest probe-index tables."""
    from geospatial_store_siting_spark.operators import dedup
    from geospatial_store_siting_spark.sources import iceberg

    key = dedup._ingest_index_key()  # noqa: SLF001 - the stage's own key
    return {n: iceberg.stage_path(None, n, sf, key) for n in INDEX_TABLES}


def _restore_index(sf: str, pristine: str) -> None:
    for name, path in ingest_index_dirs(sf).items():
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(os.path.join(pristine, name), path)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path))


def _files_per_bucket_max(path: str) -> int:
    """Most parquet files in one bucket (Spark names bucket files
    ``part-..._<bucket>.c000...parquet``)."""
    counts: dict[str, int] = {}
    for n in os.listdir(path):
        if n.endswith(".parquet"):
            b = n.split(".")[0].rsplit("_", 1)[1]
            counts[b] = counts.get(b, 0) + 1
    return max(counts.values())


def _manifest_rows(path: str) -> int:
    import json

    with open(os.path.join(path, "_manifest.json")) as f:
        return int(json.load(f)["rows"])


def arrivals(sf: str, index: dict[str, str], rng) -> tuple[list, list]:
    """A seeded arrival batch and its probe batch, as (doc_id, text) rows.

    The batch mixes exact copies of documents whose fingerprint is in the
    committed index (the index holds only the corpus split, so a copy of
    an arrival-split document would rightly be novel), one-word edits of
    indexed documents, and novel texts.  The probe batch re-submits the
    batch's documents under new ids, plus fresh copies; after the batch
    is committed, every probe document whose text the batch contributed
    as novel, and every copy, must classify as ``exact_dup``."""
    import pyarrow.parquet as pq

    fps = set(pq.read_table(index["ingest_fp_idx"], columns=["fp"]).column("fp").to_pylist())
    texts = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["text"]).column("text").to_pylist()
    indexed = sorted({t for t in texts if hashlib.md5(t.encode()).hexdigest() in fps})
    vocab = sorted({w for t in indexed for w in t.split()})
    batch = [("copy", t) for t in rng.sample(indexed, N_COPY)]
    for t in rng.sample(indexed, N_EDIT):
        words = t.split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        batch.append(("edit", " ".join(words)))
    for _ in range(N_NOVEL):
        batch.append(("novel", " ".join(f"tok{rng.randrange(10**6)}" for _ in range(NOVEL_WORDS))))
    batch = [(1_000_000_000 + i, kind, t) for i, (kind, t) in enumerate(batch)]
    probe = [(2_000_000_000 + i, "resubmit", t) for i, (_, _, t) in enumerate(batch)]
    probe += [(2_100_000_000 + i, "copy", t) for i, t in enumerate(rng.sample(indexed, N_COPY))]
    return batch, probe


def _frame(spark, rows):
    return spark.createDataFrame([(i, t) for i, _, t in rows], "doc_id bigint, text string")


def _classify(spark, tracer, sf, rows):
    from geospatial_store_siting_spark.operators import dedup

    with tracer.span("operators.dedup.classify_arrivals", spark_group=True) as sp:
        out = dedup.classify_arrivals(spark, _frame(spark, rows), sf_dir=sf).toPandas()
    return out.sort_values("doc_id").reset_index(drop=True), sp


def _ingest(spark, tracer, sf, pristine, rng) -> tuple[dict, list[str]]:
    from geospatial_store_siting_spark.operators import dedup
    from geospatial_store_siting_spark.sources import iceberg

    index = ingest_index_dirs(sf)
    _restore_index(sf, pristine)
    batch, probe = arrivals(sf, index, rng)
    msgs = []
    rows0 = {n: _manifest_rows(p) for n, p in index.items()}
    bytes0 = sum(_dir_bytes(p) for p in index.values())

    got, sp_batch = _classify(spark, tracer, sf, batch)
    status = dict(zip(got["doc_id"], got["status"]))
    if len(got) != len(batch):
        msgs.append(f"ingest: {len(got)} classified rows for {len(batch)} arrivals")
    bad = [i for i, kind, _ in batch if kind == "copy" and status.get(i) != "exact_dup"]
    if bad:
        msgs.append(f"ingest: planted copies not exact_dup: {bad[:5]}")
    novel = sum(1 for s in status.values() if s == "novel")

    with observe.timed(iceberg, "append_stage_bucketed") as append, \
            tracer.span("operators.dedup.commit_arrivals", spark_group=True) as sp_commit:
        appended = dedup.commit_arrivals(
            spark, _frame(spark, batch), sf, classified=spark.createDataFrame(got))
    grew = _manifest_rows(index["ingest_sig_idx"]) - rows0["ingest_sig_idx"]
    if grew != novel or appended["ingest_sig_idx"] != novel:
        msgs.append(f"ingest: signature index grew by {grew} rows for {novel} novel arrivals")
    files_max = max(_files_per_bucket_max(p) for p in index.values())
    written = sum(_dir_bytes(p) for p in index.values()) - bytes0

    before, _ = _classify(spark, tracer, sf, probe)
    texts_novel = {t for i, _, t in batch if status.get(i) == "novel"}
    expect_dup = [i for i, kind, t in probe if kind == "copy" or t in texts_novel]
    pstatus = dict(zip(before["doc_id"], before["status"]))
    bad = [i for i in expect_dup if pstatus.get(i) != "exact_dup"]
    if bad or len(before) != len(probe):
        msgs.append(f"ingest: probe re-submissions/copies not exact_dup: {bad[:5]}")
    with tracer.span("operators.dedup.compact_ingest_index", spark_group=True) as sp_compact:
        dedup.compact_ingest_index(spark, sf)
    after, _ = _classify(spark, tracer, sf, probe)
    if not before.equals(after):
        msgs.append("ingest: compaction changed the probe batch's classification")
    _restore_index(sf, pristine)

    classify_ms = [1e3 * (s["end"] - s["start"]) for s in tracer.spans
                   if s["name"] == "operators.dedup.classify_arrivals"]
    in_bytes = sum(len(t.encode()) for _, _, t in batch)
    return {
        "operators.dedup.classify_arrivals_ms": (statistics.median(classify_ms), "ms"),
        "operators.dedup.commit_arrivals_ms": (1e3 * (sp_commit["end"] - sp_commit["start"]), "ms"),
        "sources.iceberg.append_stage_bucketed_ms": (1e3 * append["s"], "ms"),
        "operators.dedup.compact_ingest_index_s": (sp_compact["end"] - sp_compact["start"], "s"),
        "operators.dedup.probe_rows_per_arrival": (sp_batch["spark"]["input_records"] / len(batch), "count"),
        "sources.snapshots.files_per_bucket_max": (files_max, "count"),
        "sources.iceberg.bytes_written_per_input_byte": (written / in_bytes, "ratio"),
    }, msgs


def _analyst(spark, tracer, sf, stage_root, oracle) -> tuple[dict, list[str]]:
    import __spark_entry__
    from geospatial_store_siting_spark.operators import features, scoring
    from geospatial_store_siting_spark.sources import iceberg, tables
    from geospatial_store_siting_spark.testing import frames_match

    # the leaves read the base tables, as bench.py and the oracle gate run
    # them: reload the catalog, which drops the pipeline's gold stage views
    tables.load_all(spark, sf)
    replies, metrics, spans = {}, {}, []
    with tracer.span("analyst.hex_feature_join", spark_group=True) as sp:
        with tracer.span("sources.iceberg.write_stage", spark_group=True) as commit:
            committed = iceberg.write_stage(
                spark, features.location_features(spark), "location_features", sf,
                content_key="perfbench", root=stage_root, force=True)
        replies["hex_feature_join"] = committed.toPandas()
    spans += [sp, commit]
    # scoring over the committed feature stage, as the pipeline runs it
    with tracer.span("analyst.score_candidates", spark_group=True) as sp:
        replies["score_candidates"] = scoring.score_candidates(spark, features_df=committed).toPandas()
    spans.append(sp)
    metrics["sources.iceberg.write_stage_s"] = (commit["end"] - commit["start"], "s")
    metrics["sources.snapshots.bytes_written"] = (
        sum(_dir_bytes(os.path.join(stage_root, d)) for d in os.listdir(stage_root)), "B")
    for name, fn in _leaves().items():
        with tracer.span(f"analyst.{name}", spark_group=True) as sp:
            replies[name] = fn(spark).toPandas()
        spans.append(sp)
    for sp in spans:
        if sp["name"].startswith("analyst."):
            metrics[sp["name"] + "_s"] = (sp["end"] - sp["start"], "s")
    metrics["spark.python.udf_ms"] = (sum(observe.python_worker_ms(spark, s["group"]) for s in spans), "ms")
    metrics["analyst.exchange.bytes"] = (sum(s["spark"]["shuffle_bytes"] for s in spans), "B")

    oracles = __spark_entry__.oracle_sql()
    msgs = []
    for name, got in replies.items():
        ok, why = frames_match(got, oracle.expected(oracles[name]))
        if not ok:
            msgs.append(f"analyst {name}: {why}")
    return metrics, msgs


def _app(spark, tracer, candidates, run_dir, oracle, rng) -> tuple[dict, list[str]]:
    """One request of each app workload, so every traced run times every
    endpoint both workloads use."""
    import apps

    flags = apps.FlagLog(os.path.join(run_dir, "flags-layer"))
    site = rng.choice(candidates)
    read, _ = apps.serve(spark, tracer, "read", site, flags, rng)
    write, state = apps.serve(spark, tracer, "write", site, flags, rng)
    _, msgs = apps.check_replies(oracle, candidates, [(site, read)], [(state, write)])
    return {}, msgs


def layer_pass(spark, tracer, sf, work, run_dir, oracle, candidates, rng) -> tuple[dict, int, list[str]]:
    """Run the pass traced.  Returns (per-layer metrics, operations, failure
    messages); a raised error fails its part of the pass."""
    tracer.enabled = True
    tracer.request = "layer-pass"
    metrics, msgs, ops = {}, [], 0
    # _app reads the gold stage views, which _analyst drops
    parts = (
        (lambda: _app(spark, tracer, candidates, run_dir, oracle, rng), 2),
        (lambda: _analyst(spark, tracer, sf, os.path.join(run_dir, "stages"), oracle), 2 + len(_leaves())),
        (lambda: _ingest(spark, tracer, sf, os.path.join(work, "ingest_pristine"), rng), 5),
    )
    for fn, n in parts:
        ops += n
        t0 = time.perf_counter()
        try:
            m, bad = fn()
        except Exception as e:  # noqa: BLE001 - a failed part is counted, not fatal
            msgs.append(f"layer pass: {type(e).__name__}: {str(e)[:300]}")
            continue
        metrics.update(m)
        msgs += bad
        print(f"perfbench: layer pass part took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    tracer.enabled = False
    return metrics, ops, msgs
