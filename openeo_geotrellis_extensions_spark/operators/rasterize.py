"""Raster <-> vector bridge: rasterize (burn features into a cube) and
vectorize (polygonize a cube back to features).

Reference:
  - rasterize: VectorCubeMethods.scala:23-30,110-186 (clipToGrid +
    RasterizeRDD burning a value per feature) and the zonal mask layer
    (LayerProvider.createMaskLayer) -> :func:`rasterize_features` — cover
    keys via feature_tile_keys, burn per tile in applyInPandas, later
    feature_index wins on overlap (paint order).
  - vectorize: OpenEOProcesses.scala:589-613 (regrid then polygonize band 0
    per chunk) -> :func:`vectorize` — per tile greedy rectangle
    decomposition of equal-value regions (pure numpy; a union of rectangles
    instead of merged polygons — same coverage, more features).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.geom import parse_geometry, rasterize as raster_mask
from ..core.grid import LayoutDefinition
from ..core.tiles import decoded_chunks, encode_tiles_batch
from ..sources.datacube import CubeMeta, DataCube
from .zonal import feature_tile_keys


def rasterize_features(
    features: DataFrame,
    layout: LayoutDefinition,
    value_col: str | None = None,
    cell_type: str = "int32",
) -> DataCube:
    """Burn features into a spatial-only single-band cube. Pixel value =
    ``value_col`` (or feature_index); overlaps resolved by paint order
    (higher feature_index last). Keys with no feature are absent (sparse)."""
    ct = parse_cell_type(cell_type)
    th, tw = layout.tile_rows, layout.tile_cols
    fkeys = feature_tile_keys(features, layout)
    joined = fkeys.join(F.broadcast(features), "feature_index")
    vcol = value_col or "feature_index"

    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["col"].iloc[0])
        r = int(pdf["row"].iloc[0])
        xs, ys = layout.pixel_centers_for_key(c, r)
        out = np.full((th, tw), np.nan)
        for rec in pdf.sort_values("feature_index").itertuples(index=False):
            if rec.contained:
                m = np.ones((th, tw), dtype=bool)
            else:
                g = parse_geometry(rec.geojson)
                m = raster_mask(g, xs, ys)
            out[m] = float(getattr(rec, vcol))
        return pd.DataFrame(
            [(c, r, encode_tiles_batch(out[None, None], ct)[0])],
            columns=["col", "row", "bands"],
        )

    df = joined.groupBy("col", "row").applyInPandas(
        burn, schema="col int, row int, bands array<binary>"
    )
    return DataCube(df, CubeMeta(layout, cell_type, ("band0",), temporal=False))


def _rectangles(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Greedy decomposition of a boolean mask into (y0, y1, x0, x1) rects
    (half-open): identical consecutive row-runs merge vertically."""
    h, w = mask.shape
    rects: list[tuple[int, int, int, int]] = []
    open_runs: dict[tuple[int, int], int] = {}  # (x0, x1) -> y0
    for y in range(h + 1):
        runs = set()
        if y < h:
            row = mask[y]
            x = 0
            while x < w:
                if row[x]:
                    x1 = x
                    while x1 < w and row[x1]:
                        x1 += 1
                    runs.add((x, x1))
                    x = x1
                else:
                    x += 1
        for run in list(open_runs):
            if run not in runs:
                rects.append((open_runs.pop(run), y, run[0], run[1]))
        for run in runs:
            open_runs.setdefault(run, y)
    return rects


def vectorize(cube: DataCube, band: int = 0) -> DataFrame:
    """Polygonize equal-value regions of one band -> DataFrame
    (time?, value, geojson) with rectangle polygons in map coordinates."""
    layout = cube.meta.layout
    ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    temporal = cube.meta.temporal
    out_schema = ("time timestamp, " if temporal else "") + "value double, geojson string"

    def polys(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf, vals in decoded_chunks(it, ct, shape, n_bands):
            rows = []
            for rec, stack in zip(pdf.itertuples(index=False), vals):
                c, r = int(rec.col), int(rec.row)
                arr = stack[band]
                te = layout.extent_for_key(c, r)
                vals = np.unique(arr[~np.isnan(arr)])
                for v in vals:
                    for y0, y1, x0, x1 in _rectangles(arr == v):
                        gx0 = te.xmin + x0 * layout.cell_width
                        gx1 = te.xmin + x1 * layout.cell_width
                        gy1 = te.ymax - y0 * layout.cell_height
                        gy0 = te.ymax - y1 * layout.cell_height
                        gj = json.dumps(
                            {
                                "type": "Polygon",
                                "coordinates": [[
                                    [gx0, gy0], [gx1, gy0], [gx1, gy1],
                                    [gx0, gy1], [gx0, gy0],
                                ]],
                            }
                        )
                        if temporal:
                            rows.append((rec.time, float(v), gj))
                        else:
                            rows.append((float(v), gj))
            cols = (["time"] if temporal else []) + ["value", "geojson"]
            yield pd.DataFrame(rows, columns=cols)

    return cube.df.mapInPandas(polys, schema=out_schema)
