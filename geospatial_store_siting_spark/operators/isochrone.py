"""Cost isochrones (catchment areas) over the hex lattice.

Generalizes the reference's ring-based trade areas
(``/root/reference/notebooks/10_feature_engineering.py:77-116`` — a k-ring
IS the uniform-cost isochrone) to a cost-weighted reachability field: from
each site, expand over lattice neighbors accumulating a per-cell entry
cost, keep every cell whose cheapest path stays within a cost budget and a
hop limit.  This is the store-siting "drive-time polygon" primitive —
trade areas that stretch along cheap corridors and stop at expensive ones
— built without any routing engine.

Cost model (deterministic, integer-exact in both engines):

    entry_cost(cell) = 1 + (cell_id % 5) + congestion(cell)
    congestion(cell) = 2 if the cell is inhabited (present in hex_grid)

The base term is closed-form terrain cost in 1..5 (same device as
``hex_sql.grid_attrs_sql``); the congestion surcharge is a JOIN against
the demographics grid — the production shape, where the cost raster is a
stored layer, not arithmetic.

Execution shape (the 100-TB posture):

- Per round: explode 6 literal neighbor offsets (a generator inside
  whole-stage codegen, same idiom as ``rings.ring_pairs``), LEFT JOIN the
  broadcast congestion dim on the closed-form neighbor id, then one
  min-agg shuffle keyed (site_id, cell_id).  Nothing else shuffles; at a
  sharded-raster scale the broadcast flips to a SHUFFLE_HASH hint exactly
  like ``plan_choice.scale_hint``.
- Rounds = hop limit (Bellman-Ford over ≤H hops): labels_i = min(labels_{i-1}
  ∪ expand(labels_{i-1})).  Expanding the full label set re-derives some
  dominated paths that the min kills — provably equivalent to the oracle's
  exhaustive path enumeration because costs are non-negative and additive,
  and within a constant factor of the frontier-delta variant at small H.
  Deep budgets would route per-round labels through
  ``dedup._stage_or_checkpoint`` (the near_dup_components pattern).

Oracle: a recursive CTE (UNION ALL — depth-bounded by the hop counter)
enumerates every ≤H-hop path under the budget and takes the
per-(site, cell) MIN — all-integer arithmetic, so the value hash is
exact.  The SAME text executes on Spark 4's WITH RECURSIVE and on
DuckDB (tests/test_isochrone.py::test_recursive_cte_text_runs_on_spark_too):
one SQL string, three agreeing plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hex_sql
from .rings import neighbor_cell_col

ISO_HOPS = 3
ISO_BUDGET = 10
_CONGESTION = 2

# hop counts up to this run the FLAT one-shuffle plan (exhaustive path
# explode, ~6^H paths per site pre-prune — fine for small H); beyond it
# the per-round min-agg loop bounds state at |reachable cells| per site
FLAT_HOPS_LIMIT = 4

# the 6 direct lattice neighbors (k=1 disk minus the center)
NEIGHBOR_OFFSETS = [
    (dq, dr) for dq, dr in hex_sql.ring_offsets(1) if (dq, dr) != (0, 0)
]


def _base_cost_sql(cell: str) -> str:
    """Closed-form terrain cost in 1..5 — BIGINT in both engines."""
    return f"(CAST(1 AS BIGINT) + (({cell}) % 5))"


def _offsets_values_sql() -> str:
    rows = ", ".join(f"({dq}, {dr})" for dq, dr in NEIGHBOR_OFFSETS)
    return f"(SELECT * FROM (VALUES {rows}) AS __o(dq, dr)) o"


def catchment_reach(
    spark: SparkSession,
    hops: int = ISO_HOPS,
    budget: int = ISO_BUDGET,
    sites_df: DataFrame | None = None,
) -> DataFrame:
    """(site_id, cell_id, cost_min): every lattice cell reachable from the
    site within ``hops`` steps at total entry cost ≤ ``budget``, with the
    cheapest such cost.  The site's own cell costs 0.

    ``sites_df`` overrides the seed table (same columns as ``sites``) —
    the streaming twin passes each micro-batch of arriving candidate
    sites here; expansion is per-site, so batch = union of micro-batches
    exactly.

    Plan dispatch (same result either way, asserted by the DP test):

    - ``hops ≤ FLAT_HOPS_LIMIT`` → the FLAT plan: chain the H explode +
      broadcast-join rounds with NO aggregation between them.  Every
      path of a site is generated inside the site's own input partition
      (generators and broadcast joins are map-side), so the hash
      aggregate's partial (map-side) combine collapses the ~6^H paths
      per site down to its ≤ reachable-cell count BEFORE the one and
      only shuffle — one barrier instead of H, ~H× less shuffled volume.
    - deeper budgets → the per-round min-agg loop (Bellman-Ford): path
      count grows exponentially with H but the label state is bounded by
      reachable cells, so each round's min-agg is the pruning step."""
    congestion = spark.table("hex_grid").select(
        F.col("cell_id").alias("g_cell"),
        F.lit(_CONGESTION).cast("long").alias("congestion"),
    )
    seeds = (sites_df if sites_df is not None else spark.table("sites")).select(
        "site_id",
        F.col("h3_res8").alias("cell_id"),
        "q",
        "r",
        F.lit(0).cast("long").alias("cost"),
    )
    items = ", ".join(
        f"struct({dq} as dq, {dr} as dr)" for dq, dr in NEIGHBOR_OFFSETS
    )
    offs = F.expr(f"array({items})")

    def expand(frontier: DataFrame) -> DataFrame:
        nbrs = frontier.select(
            "site_id", "cost", "q", "r", F.explode(offs).alias("o")
        ).select(
            "site_id",
            "cost",
            (F.col("q") + F.col("o.dq")).alias("q"),
            (F.col("r") + F.col("o.dr")).alias("r"),
            neighbor_cell_col(
                F.col("q") + F.col("o.dq"), F.col("r") + F.col("o.dr")
            ).alias("cell_id"),
        )
        return (
            nbrs.join(
                F.broadcast(congestion),
                nbrs.cell_id == congestion.g_cell,
                "left",
            )
            .select(
                "site_id",
                "cell_id",
                "q",
                "r",
                (
                    F.col("cost")
                    + F.expr(_base_cost_sql("cell_id"))
                    + F.coalesce(F.col("congestion"), F.lit(0).cast("long"))
                ).alias("cost"),
            )
            .filter(F.col("cost") <= budget)
        )

    if hops <= FLAT_HOPS_LIMIT:
        frontier, levels = seeds, seeds
        for _ in range(hops):
            frontier = expand(frontier)
            levels = levels.unionByName(frontier)
        return levels.groupBy("site_id", "cell_id").agg(
            F.min("cost").alias("cost_min")
        )

    labels = seeds
    for _ in range(hops):
        labels = (
            labels.unionByName(expand(labels))
            .groupBy("site_id", "cell_id")
            .agg(
                F.min("cost").alias("cost"),
                F.min("q").alias("q"),  # q/r are functions of cell_id
                F.min("r").alias("r"),
            )
        )
    return labels.select("site_id", "cell_id", F.col("cost").alias("cost_min"))


def catchment_population(
    spark: SparkSession, hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> DataFrame:
    """Per-site catchment rollup over the isochrone: cell count, inhabited
    cell count, and total closed-form population of the reached area —
    the "demand within drive-time" feature a siting model consumes."""
    reach = catchment_reach(spark, hops, budget)
    pop = F.expr(hex_sql.grid_attrs_sql("cell_id")["population"])
    inhabited = spark.table("hex_grid").select(
        F.col("cell_id").alias("g_cell"), F.lit(1).cast("long").alias("inh")
    )
    return (
        reach.withColumn("population", pop)
        .join(F.broadcast(inhabited), reach.cell_id == inhabited.g_cell, "left")
        .groupBy("site_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.coalesce(F.col("inh"), F.lit(0).cast("long"))).alias(
                "n_inhabited"
            ),
            F.sum("population").alias("catchment_pop"),
        )
    )


def catchment_doc_density(
    spark: SparkSession, hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> DataFrame:
    """Corpus × catchment composition: for each site, the geotagged
    document spans landing inside its cost isochrone — local-content
    density as a siting feature (and the interleaved-documents side of
    the graft meeting the lattice side, like ``pip.doc_zone_counts``).

    ``nearest_span_cost`` is the travel cost of the cheapest reached cell
    that actually contains content.  Shuffle shape: one hash join keyed
    on cell_id (at corpus scale the spans side is the big one and
    arrives pre-tiled by ``documents.corpus_tile_assignments``; the reach
    side is |sites|·cells), then one per-site hash agg."""
    from ..sources import documents

    reach = catchment_reach(spark, hops, budget)
    spans = documents.geotagged_spans(spark).select(
        "doc_id", F.col("hex_id").alias("cell_id")
    )
    return (
        reach.join(spans, "cell_id")
        .groupBy("site_id")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            F.min("cost_min").alias("nearest_span_cost"),
        )
    )


def catchment_doc_density_oracle_sql(
    hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> str:
    from ..sources import documents

    prelude = _reach_cte_sql(hex_sql.grid_sql(), hex_sql.sites_sql(), hops, budget)
    g = documents.geotagged_spans_oracle_sql()
    return f"""{prelude}
SELECT b.site_id,
       CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(MIN(b.cost_min) AS BIGINT) AS nearest_span_cost
FROM best b JOIN ({g}) g ON g.hex_id = b.cell_id
GROUP BY b.site_id"""


# 1e6/(1+cost)² snapped to an integer — gravity weights as exact BIGINTs
# so every downstream SUM is order-independent (the huff.py micros device)
def _g_micros_sql(cost: str) -> str:
    return (
        f"CAST(FLOOR(1000000.0 / "
        f"(CAST(1 + ({cost}) AS DOUBLE) * CAST(1 + ({cost}) AS DOUBLE))"
        f") AS BIGINT)"
    )


def huff_isochrone(
    spark: SparkSession, hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> DataFrame:
    """Cost-impedance Huff: gravity market shares where impedance is the
    ISOCHRONE travel cost, not straight-line distance — the composition
    the reference's drive-time TODO points at (its Huff uses planar
    distance, `notebooks/10_feature_engineering.py:562-679`).

    For every (store, cell) pair inside the store's catchment:
    g = 1e6/(1+cost)² snapped to BIGINT; share = g/Σ_stores-reaching-cell;
    demand = Σ_cells share·population.  Everything summed is an exact
    integer (weights are micros, populations are integer-valued), so the
    aggregation commutes — the only doubles are two single divisions.
    Shuffle shape: reach (one shuffle, flat plan) → per-cell denominator
    hash agg → equi-join back on cell → per-store hash agg — the same
    "denominator once per cell, not per pair" scale pattern as
    operators/huff.py."""
    stores = spark.table("sites").filter(F.col("site_type") == "store")
    reach = catchment_reach(spark, hops, budget, sites_df=stores)
    g = reach.select(
        "site_id",
        "cell_id",
        F.expr(_g_micros_sql("cost_min")).alias("g_micros"),
    )
    den = g.groupBy("cell_id").agg(F.sum("g_micros").alias("den_micros"))
    pop_int = (
        "CAST(500 + ((cell_id % 9973) % 5000) AS BIGINT)"
    )  # integer form of grid_attrs_sql's population
    shares = g.join(den, "cell_id").select(
        "site_id",
        "cell_id",
        F.expr(
            "CAST(FLOOR(CAST(g_micros AS DOUBLE) * 1000000.0"
            " / CAST(den_micros AS DOUBLE)) AS BIGINT)"
        ).alias("share_micros"),
        F.expr(pop_int).alias("pop"),
    )
    return shares.groupBy("site_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("share_micros").alias("sum_share_micros"),
        (
            (F.sum(F.col("share_micros") * F.col("pop"))).cast("double")
            / F.lit(1000000.0)
        ).alias("huff_demand"),
    )


def huff_isochrone_oracle_sql(
    hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> str:
    stores_src = (
        f"SELECT * FROM ({hex_sql.sites_sql()}) __all"
        f" WHERE site_type = 'store'"
    )
    prelude = _reach_cte_sql(hex_sql.grid_sql(), stores_src, hops, budget)
    g_micros = _g_micros_sql("cost_min")
    return f"""{prelude},
g AS (
  SELECT site_id, cell_id, {g_micros} AS g_micros FROM best
),
den AS (
  SELECT cell_id, CAST(SUM(g_micros) AS BIGINT) AS den_micros
  FROM g GROUP BY cell_id
),
sh AS (
  SELECT g.site_id, g.cell_id,
         CAST(FLOOR(CAST(g.g_micros AS DOUBLE) * 1000000.0
              / CAST(den.den_micros AS DOUBLE)) AS BIGINT) AS share_micros,
         CAST(500 + ((g.cell_id % 9973) % 5000) AS BIGINT) AS pop
  FROM g JOIN den ON den.cell_id = g.cell_id
)
SELECT site_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(share_micros) AS BIGINT) AS sum_share_micros,
       CAST(SUM(share_micros * pop) AS DOUBLE) / 1000000.0 AS huff_demand
FROM sh GROUP BY site_id"""


K_SELECT = 5


def greedy_site_selection(
    spark: SparkSession,
    k: int = K_SELECT,
    hops: int = ISO_HOPS,
    budget: int = ISO_BUDGET,
) -> DataFrame:
    """Greedy maximal-coverage site selection: pick ``k`` candidate sites,
    each maximizing the MARGINAL catchment population — demand in its
    isochrone not already covered by an earlier pick (the maximal covering
    location problem, solved greedily: the classic 1-1/e approximation).

    The reference ranks candidates independently
    (``notebooks/13_score_candidates.py``) — independent ranking happily
    picks five adjacent corners of the same hot block.  Marginal-gain
    selection is the portfolio answer, and it stays distributed: each of
    the k rounds is one anti-join against the (tiny, broadcast) covered
    cell set + one hash agg + an in-engine ``orderBy().limit(1)`` top-1;
    only the single winning row ever reaches the driver (the
    ``ranks.py:52`` K-tiny-rows precedent).  Gains are sums of
    integer-valued closed-form populations — exact in float64, so
    argmax + tiebreak (gain DESC, site_id ASC) is engine-identical and
    the unrolled DuckDB oracle reproduces every pick bit-for-bit."""
    pop = F.expr(hex_sql.grid_attrs_sql("cell_id")["population"])
    cand = spark.table("sites").filter(
        F.col("site_type") == "candidate"
    ).select("site_id")
    creach = (
        catchment_reach(spark, hops, budget)
        .join(cand, "site_id")
        .withColumn("population", pop)
        .select("site_id", "cell_id", "population")
        # every round re-reads this frame (scores + winner's cells): persist
        # so the reach expansion executes ONCE, not k×2 times — spillable
        # (MEMORY_AND_DISK), unpersisted before return, unlike the pinned
        # localCheckpoint pattern the CC loop moved away from
        .persist()
    )
    covered = None
    chosen: list[tuple[int, int, float]] = []
    for rank in range(1, k + 1):
        avail = (
            creach
            if covered is None
            else creach.join(F.broadcast(covered), "cell_id", "left_anti")
        )
        best_rows = (
            avail.groupBy("site_id")
            .agg(F.sum("population").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("site_id"))
            .limit(1)
            .collect()
        )
        if not best_rows:
            break
        best = best_rows[0]
        chosen.append((rank, best["site_id"], float(best["gain"])))
        new_cells = creach.filter(
            F.col("site_id") == best["site_id"]
        ).select("cell_id")
        covered = (
            new_cells
            if covered is None
            else covered.unionByName(new_cells).distinct()
        )
    creach.unpersist()
    return spark.createDataFrame(
        chosen, "pick_rank bigint, site_id bigint, gain double"
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB): exhaustive path enumeration via recursive CTE
# ---------------------------------------------------------------------------


def _reach_cte_sql(
    grid_src: str, sites_src: str, hops: int, budget: int
) -> str:
    """The WITH RECURSIVE prelude computing best(site_id, cell_id,
    cost_min).  Neighbor ids are the same closed-form bigint arithmetic
    the Spark plan uses (``hex_sql.cell_id_from_qr_sql``)."""
    ncell = hex_sql.cell_id_from_qr_sql("r.q + o.dq", "r.r + o.dr", 8)
    new_cost = (
        f"r.cost + {_base_cost_sql(ncell)}"
        f" + COALESCE(c.congestion, CAST(0 AS BIGINT))"
    )
    return f"""
WITH RECURSIVE
cong AS (
  SELECT q, r, CAST({_CONGESTION} AS BIGINT) AS congestion
  FROM ({grid_src}) __g
),
seeds AS (
  SELECT site_id, h3_res8 AS cell_id, q, r FROM ({sites_src}) __s
),
reach AS (
  SELECT s.site_id, s.cell_id, s.q, s.r,
         CAST(0 AS BIGINT) AS cost, 0 AS hops
  FROM seeds s
  UNION ALL
  SELECT r.site_id, {ncell} AS cell_id, r.q + o.dq, r.r + o.dr,
         {new_cost}, r.hops + 1
  FROM reach r
  CROSS JOIN {_offsets_values_sql()}
  LEFT JOIN cong c ON c.q = r.q + o.dq AND c.r = r.r + o.dr
  WHERE r.hops < {hops} AND {new_cost} <= {budget}
),
best AS (
  SELECT site_id, cell_id, CAST(MIN(cost) AS BIGINT) AS cost_min
  FROM reach GROUP BY site_id, cell_id
)"""


def catchment_reach_oracle_sql(
    hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> str:
    prelude = _reach_cte_sql(hex_sql.grid_sql(), hex_sql.sites_sql(), hops, budget)
    return f"""{prelude}
SELECT site_id, cell_id, cost_min FROM best"""


def greedy_site_selection_oracle_sql(
    k: int = K_SELECT, hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> str:
    """The greedy selection unrolled to k mechanical CTE stages: stage i
    scores every candidate on cells outside covered_{i-1}, LIMIT 1 with
    the same (gain DESC, site_id ASC) tiebreak, then folds the winner's
    cells into covered_i.  Same reach prelude as the other oracles."""
    prelude = _reach_cte_sql(hex_sql.grid_sql(), hex_sql.sites_sql(), hops, budget)
    pop = hex_sql.grid_attrs_sql("cell_id")["population"]
    stages = [
        f"""
cand AS (
  SELECT site_id FROM ({hex_sql.sites_sql()}) __c WHERE site_type = 'candidate'
),
cr AS (
  SELECT b.site_id, b.cell_id, {pop} AS population
  FROM best b JOIN cand ON cand.site_id = b.site_id
)"""
    ]
    for i in range(1, k + 1):
        not_covered = (
            ""
            if i == 1
            else f"WHERE cell_id NOT IN (SELECT cell_id FROM c{i - 1})"
        )
        stages.append(
            f"""
s{i} AS (
  SELECT site_id, SUM(population) AS gain FROM cr {not_covered}
  GROUP BY site_id
),
p{i} AS (
  SELECT CAST({i} AS BIGINT) AS pick_rank, site_id, gain
  FROM s{i} ORDER BY gain DESC, site_id LIMIT 1
)"""
        )
        prior = f"SELECT cell_id FROM c{i - 1} UNION " if i > 1 else ""
        stages.append(
            f"""
c{i} AS (
  {prior}SELECT cr.cell_id FROM cr JOIN p{i} ON p{i}.site_id = cr.site_id
)"""
        )
    picks = "\nUNION ALL\n".join(f"SELECT * FROM p{i}" for i in range(1, k + 1))
    return f"{prelude},{','.join(stages)}\n{picks}"


def catchment_population_oracle_sql(
    hops: int = ISO_HOPS, budget: int = ISO_BUDGET
) -> str:
    prelude = _reach_cte_sql(hex_sql.grid_sql(), hex_sql.sites_sql(), hops, budget)
    pop = hex_sql.grid_attrs_sql("b.cell_id")["population"]
    return f"""{prelude},
inh AS (SELECT DISTINCT cell_id FROM ({hex_sql.grid_sql()}) __i)
SELECT b.site_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN inh.cell_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_inhabited,
       SUM({pop}) AS catchment_pop
FROM best b LEFT JOIN inh ON inh.cell_id = b.cell_id
GROUP BY b.site_id"""
