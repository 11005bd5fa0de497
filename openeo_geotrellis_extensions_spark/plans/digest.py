"""Per-tile digests — the bridge between binary-tile cubes and relational
oracles: (key, band) -> (valid-pixel count, sum, min, max). Because fixture
cube pixels are closed-form arithmetic, a DuckDB query can regenerate the
same digests, giving raster operators value-level SQL correctness checks."""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tiles import decoded_chunks
from ..sources.datacube import DataCube


def _round_half_away(x: float, digits: int) -> float:
    """Round half away from zero — matches DuckDB/Spark SQL ROUND so digests
    hash-compare cleanly (Python's round() is banker's rounding)."""
    k = 10.0**digits
    return math.copysign(math.floor(abs(x) * k + 0.5) / k, x)


def cube_digest(cube: DataCube, round_to: int = 4) -> DataFrame:
    """-> DataFrame(date?, col, row, band, cnt, sm, mn, mx); date as
    'yyyy-MM-dd' string when the cube is temporal."""
    ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    temporal = cube.meta.temporal
    cols = (["date"] if temporal else []) + ["col", "row", "band", "cnt", "sm", "mn", "mx"]
    fields = ("date string, " if temporal else "") + (
        "col int, row int, band int, cnt bigint, sm double, mn double, mx double"
    )

    def digest(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf, vals in decoded_chunks(it, ct, shape, n_bands):
            rows = []
            for rec, stack in zip(pdf.itertuples(index=False), vals):
                for b in range(n_bands):
                    v = stack[b][~np.isnan(stack[b])]
                    base = ([rec.time.strftime("%Y-%m-%d")] if temporal else []) + [
                        int(rec.col), int(rec.row), b
                    ]
                    if v.size == 0:
                        rows.append(base + [0, None, None, None])
                    else:
                        rows.append(
                            base
                            + [int(v.size), _round_half_away(float(v.sum()), round_to),
                               _round_half_away(float(v.min()), round_to),
                               _round_half_away(float(v.max()), round_to)]
                        )
            yield pd.DataFrame(rows, columns=cols)

    return cube.df.mapInPandas(digest, schema=fields)
