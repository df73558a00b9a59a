"""The two app-surface workloads: request drawing, the closed loop, and
the untimed output checks.

A request is a public ``operators/app_queries`` call served the way the
reference app serves it: build the DataFrame, collect it to pandas.  One
client thread sends the next request only after the previous reply (a
closed loop), so latency is what an analyst waits for.  Each workload
repeats one request kind, each time for a site drawn from the seed, so its
median compares like with like across many sites:

- ``site_lookup``: ``location_detail(site)`` — a point lookup joining the
  gold feature and score stages with the site filter pushed under both
  sides.  Driver planning and job scheduling set its latency, not data
  volume.
- ``flag_review``: ``flag_site`` (an append to the flag log) followed by
  the ``flagged_with_scores`` read-back the app shows after the click —
  a write interleaved with the read that probes it.  The log grows by one
  file per write, so the read-back also tracks small-file growth.
"""

from __future__ import annotations

import random
import time

from observe import optimizer_ms
from geospatial_store_siting_spark.operators import app_queries as aq
from geospatial_store_siting_spark.operators.scoring import score_candidates_oracle_sql

STATUSES = ["shortlist", "review", "rejected"]

class FlagLog:
    """The writes sent so far, resolved latest-wins like the app."""

    def __init__(self, path: str):
        self.path = path
        self.seq = 0
        self.latest: dict[int, tuple[str, str, int]] = {}

    def next_flag(self, rng: random.Random, site: int) -> tuple:
        self.seq += 1
        flag = (rng.choice(STATUSES), f"note {self.seq}", self.seq)
        self.latest[site] = flag
        return flag


def serve(spark, tracer, kind: str, site: int, flags: FlagLog, rng):
    """Send one request and wait for the reply.  Returns the pandas reply
    and, for writes, the latest-wins flag state it must show."""
    if kind == "read":
        with tracer.span("operators.app_queries.location_detail", spark_group=True) as sp:
            t0 = time.perf_counter()
            df = aq.location_detail(spark, site)
            sp["build_s"] = time.perf_counter() - t0
            out = df.toPandas()
            sp["optimizer_ms"] = optimizer_ms(df) if tracer.enabled else None
        return out, None
    status, note, seq = flags.next_flag(rng, site)
    with tracer.span("operators.app_queries.flag_site", spark_group=True):
        aq.flag_site(spark, flags.path, site, status, note, seq)
    with tracer.span("operators.app_queries.flagged_with_scores", spark_group=True) as sp:
        t0 = time.perf_counter()
        df = aq.flagged_with_scores(spark, flags.path)
        sp["build_s"] = time.perf_counter() - t0
        out = df.toPandas()
        sp["optimizer_ms"] = optimizer_ms(df) if tracer.enabled else None
    return out, dict(flags.latest)


def check_replies(oracle, candidates: list[int], replies: list, write_replies: list) -> tuple[int, list[str]]:
    """Untimed: every ``location_detail`` reply equals the oracle's row for
    its site (``compare_sites_oracle_sql`` over all candidates, one DuckDB
    query), and every flag read-back equals the latest-wins flag state
    joined to the oracle's scores.  Returns (failed op count, messages)."""
    import pandas as pd

    from geospatial_store_siting_spark.testing import frames_match

    failed, msgs = 0, []
    if replies:
        detail = oracle.expected(aq.compare_sites_oracle_sql(candidates))
        for site, got in replies:
            ok, why = frames_match(got, detail[detail["site_id"] == site].reset_index(drop=True))
            if not ok:
                failed += 1
                msgs.append(f"location_detail({site}): {why}")
    if write_replies:
        scored = oracle.expected(score_candidates_oracle_sql()).set_index("site_id")
        for state, got in write_replies:
            exp = pd.DataFrame(
                [(s, st, note, seq) for s, (st, note, seq) in state.items()],
                columns=["site_id", "status", "note", "seq"],
            )
            exp["predicted_annual_sales"] = exp["site_id"].map(scored["predicted_annual_sales"])
            exp["tier"] = exp["site_id"].map(scored["tier"])
            ok, why = frames_match(got, exp)
            if not ok:
                failed += 1
                msgs.append(f"flagged_with_scores after seq {max(v[2] for v in state.values())}: {why}")
    return failed, msgs
