"""DuckDB oracle for output checks, run untimed after the timed phase.

Each expected result is the engine's own ``*_oracle_sql`` text run by
DuckDB over the same generated parquet tables.  Results are cached on disk
by SQL text, so a request drawn again in a later run costs nothing.  Callers
compare with the repo's gate (``testing.frames_match``: row count, column
set, order-insensitive value hash).
"""

from __future__ import annotations

import hashlib
import os
import pickle


class Oracle:
    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        import duckdb

        from geospatial_store_siting_spark.sources.tables import BASE_TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in BASE_TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con

    def expected(self, sql: str):
        os.makedirs(self.cache_dir, exist_ok=True)
        path = os.path.join(self.cache_dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        if self._con is None:
            self._con = self._connect()
        df = self._con.execute(sql).df()
        with open(path + f".tmp-{os.getpid()}", "wb") as f:
            pickle.dump(df, f)
        os.replace(path + f".tmp-{os.getpid()}", path)
        return df
