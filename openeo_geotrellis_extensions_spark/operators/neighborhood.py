"""apply_neighborhood / pyramid build — halo-windowed UDF application and
zoom-level downsampling.

Reference:
  - apply_neighborhood: retile to sizeX x sizeY with overlapX/Y halos via
    bufferTiles, pad edge tiles square, apply, crop the halo back off
    (OpenEOProcesses.scala:996-1047 retile/makeSquareTile/remove_overlap).
  - pyramid build: iterative zoom-out (TiledRasterLayer.scala:173,
    geotiff/package.scala:332-344).

Ours reuses the kernel module's 9-way offset-explode halo (one shuffle),
assembles the padded array, runs the callback on the interior+overlap
window, then crops — halo pixels at partition boundaries are bit-exact
because every neighbor tile ships its edge (SURVEY §7.3 'halo correctness').
Pyramid: 2x2 block mean per zoom-out, sparse keys preserved.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.grid import LayoutDefinition
from ..core.tiles import encode_tiles_batch, paste_tiles
from ..functions.process_compiler import compile_process_graph
from ..sources.datacube import CubeMeta, DataCube
from .kernel import map_halos


def apply_neighborhood(
    cube: DataCube,
    fn_or_graph,
    overlap: int,
    context: dict | None = None,
) -> DataCube:
    """Apply ``fn(padded: (bands, h+2o, w+2o)) -> same shape`` per tile with
    ``overlap`` halo pixels from the 8 neighbors; output cropped back to the
    tile (remove_overlap, OpenEOProcesses.scala:996-998). ``fn_or_graph`` may
    be a callable or an openEO process graph applied per band with 'x' =
    padded array."""
    if overlap > min(cube.meta.tile_shape):
        raise ValueError("overlap exceeds tile size")
    h, w = cube.meta.tile_shape
    ct = cube.meta.cell_type
    out_ct = parse_cell_type(
        "float64" if parse_cell_type(ct).base == "float64" else "float32"
    )
    ctx = context or {}
    if callable(fn_or_graph):
        user_fn = fn_or_graph
    else:
        comp = compile_process_graph(fn_or_graph, parse_cell_type(ct).base)

        def user_fn(padded):
            return np.stack(
                [np.asarray(comp.fn({"x": padded[b], **ctx}), dtype=np.float64)
                 for b in range(padded.shape[0])]
            )

    def apply_window(halo: np.ndarray) -> np.ndarray:
        win = halo[:, h - overlap : 2 * h + overlap, w - overlap : 2 * w + overlap]
        res = np.asarray(user_fn(win), dtype=np.float64)
        if res.shape != win.shape:
            raise ValueError(f"neighborhood fn changed shape {win.shape} -> {res.shape}")
        return res[:, overlap : overlap + h, overlap : overlap + w]

    df = map_halos(cube, apply_window, out_ct)
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct.name)


def zoom_out(cube: DataCube) -> DataCube:
    """One pyramid level up: 2x2 tile blocks merge into one tile whose pixels
    are 2x2 block means (nodata-aware). Layout halves in each direction."""
    ld = cube.meta.layout
    if ld.layout_cols % 2 or ld.layout_rows % 2:
        raise ValueError("layout dims must be even to zoom out")
    target = LayoutDefinition(
        ld.extent, ld.layout_cols // 2, ld.layout_rows // 2,
        ld.tile_cols, ld.tile_rows, ld.crs,
    )
    h, w = cube.meta.tile_shape
    ct = cube.meta.cell_type
    n_bands = cube.meta.n_bands
    out_ct = parse_cell_type(ct)
    temporal = cube.meta.temporal
    keys = (["time"] if temporal else []) + ["col", "row"]

    df = cube.df.withColumn("pc", (F.col("col") / 2).cast("int")).withColumn(
        "pr", (F.col("row") / 2).cast("int")
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        full = paste_tiles(
            np.full((n_bands, 2 * h, 2 * w), np.nan), pdf["bands"],
            zip((pdf["row"].to_numpy() % 2) * h, (pdf["col"].to_numpy() % 2) * w),
            ct, (h, w),
        )
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            down = np.nanmean(
                full.reshape(n_bands, h, 2, w, 2).transpose(0, 1, 3, 2, 4).reshape(n_bands, h, w, 4),
                axis=3,
            )
        bands = encode_tiles_batch(down[None], out_ct)[0]
        row = ([first["time"]] if temporal else []) + [int(first["pc"]), int(first["pr"]), bands]
        cols = (["time"] if temporal else []) + ["col", "row", "bands"]
        return pd.DataFrame([row], columns=cols)

    gkeys = ([k for k in keys if k == "time"]) + ["pc", "pr"]
    out = df.groupBy(*gkeys).applyInPandas(merge, schema=cube.df.schema)
    return DataCube(out, CubeMeta(target, ct, cube.meta.band_names, temporal))


def build_pyramid(cube: DataCube, levels: int) -> list[DataCube]:
    """[cube, zoom-1, zoom-2, ...] — the TMS pyramid loop."""
    out = [cube]
    for _ in range(levels):
        out.append(zoom_out(out[-1]))
    return out
