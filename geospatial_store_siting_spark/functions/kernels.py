"""Arrow pandas-UDF kernels wrapping the numpy hex codec (SURVEY §2.9 G1-G3).

The SQL-expression codec (hex_sql) is the default path — it stays in
whole-stage codegen.  These kernels are the vectorized-Python escape hatch
the north star mandates for operators that genuinely need numpy ("batching
h3/s2 encode+PIP per partition, never per-row Python"): Arrow moves
columns in batches, numpy vectorizes within the batch.  Tests assert the
kernel path is bit-identical to the SQL path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from . import hexgrid


def make_encode_udf(res: int):
    @F.pandas_udf("long")
    def encode(lat: pd.Series, lon: pd.Series) -> pd.Series:
        cells = hexgrid.latlng_to_cell(
            lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64), res
        )
        return pd.Series(cells)

    return encode


def make_cell_to_string_udf():
    @F.pandas_udf("string")
    def cell_to_string_udf(cell: pd.Series) -> pd.Series:
        return pd.Series(hexgrid.cell_to_string(cell.to_numpy(dtype=np.int64)))

    return cell_to_string_udf


def make_kring_udf(k: int = 1):
    @F.pandas_udf("array<long>")
    def kring_udf(cell: pd.Series) -> pd.Series:
        rings = hexgrid.k_ring(cell.to_numpy(dtype=np.int64), k)
        return pd.Series(list(rings))

    return kring_udf
