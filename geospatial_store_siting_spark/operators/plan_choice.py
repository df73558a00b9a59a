"""Plan choice: the engine's one owner of size gates.

Every broadcast-vs-scale-safe decision asks ``small(spark, *tables)``:
the summed row count of the named registered tables against a limit the
tables decide — the corpus limit for ``documents``/``embeddings``, the
dim limit for every other table.  A count is an upper bound on any
filtered or projected frame derived from the table, so above the limit
the gate is conservative (the scale-safe plan is correct at any size).

Counts come from one per-session row map (``record_table_rows``):
``sources/tables.register_tables`` resets it and
``register_geo_views`` fills it from the snapshot manifests, so a
manifest-backed table never runs a count() job.  A table with no
manifest count (today ``documents`` and ``embeddings``) is counted once
per registration — the first gate that asks launches the count job, and
the count joins the map so later gates launch none.

A view replaced outside ``tables.register_*`` keeps its recorded count:
call ``record_table_rows`` after swapping it.

Every answer is also logged into the open ``observe.span`` (if any) as
``{tables, rows, limit, small}``, so a stage or leaf readout shows which
plan branch it took and the sizes behind the choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import observe

# Dim gate: force-broadcast the dim side of a blocked join only while it
# is provably small; above this the plan must not depend on shipping a
# whole competitor/store/grid table to every executor.
DIM_LIMIT = 1_000_000
# Corpus gate.  Below this many documents the banded bucket tables and
# signature tables are genuinely small and Catalyst's broadcast pick is
# the fast plan; above it every pair join is hinted SHUFFLE_HASH so no
# corpus-derived table is ever collected to the driver and re-shipped
# whole to every executor.  Measured rationale (the MinHash-LSH scaling
# section of BENCH/BASELINE.md; tools/layer_profile.py re-measures the plans):
# localCheckpoint/stage stats under-estimate at harness scale and
# Catalyst planned the 10M-row band table AND both signature sides of the
# refine join as broadcasts — a driver-serial build+ship that did not
# scale at all from local[4] to local[16] (pairs stage 6.4 s -> 6.7 s) and
# dragged N->4N efficiency to 0.544.  At 10^12 docs the same plan is a
# driver OOM, not just a straggler.
CORPUS_LIMIT = 100_000
_CORPUS_TABLES = ("documents", "embeddings")
_ROWS_ATTR = "_gss_table_rows"


def record_table_rows(spark: SparkSession, rows: dict[str, int]) -> None:
    """Replace the session's row map wholesale (``{}`` resets it), so a
    re-load at another scale factor can't leave stale counts behind.  The
    map lives ON the SparkSession object: it dies with the session."""
    setattr(spark, _ROWS_ATTR, dict(rows))


def small(spark: SparkSession, *tables: str) -> bool:
    """True while the named tables' summed rows fit their limit."""
    rows = getattr(spark, _ROWS_ATTR, None)
    if rows is None:
        rows = {}
        setattr(spark, _ROWS_ATTR, rows)
    for t in tables:
        if t not in rows:
            rows[t] = spark.table(t).count()
    corpus = any(t in _CORPUS_TABLES for t in tables)
    # limits read at call time (tests monkeypatch them)
    limit = CORPUS_LIMIT if corpus else DIM_LIMIT
    total = sum(rows[t] for t in tables)
    fits = total <= limit
    observe._note({"tables": list(tables), "rows": total, "limit": limit, "small": fits})
    return fits


def scale_hint(df: DataFrame, fits: bool) -> DataFrame:
    """Above the gate: pin the scale-safe shuffled hash join (hash on the
    join key, per-partition build — no driver collect, no full-table
    ship).  The hint survives aliasing, so one call covers both sides of
    a self-join."""
    return df if fits else df.hint("shuffle_hash")
