"""Key/metadata filters — the relational sigma/pi analogs (SURVEY §2.3).

All of these are pure Column predicates/projections: Catalyst pushes them
into scans and below UDF stages, which is the engine equivalent of the
reference's hand-coded pushdowns (crop_metadata OpenEOProcesses.scala:1162-1198,
filterNegativeSpatialKeys :804-830, filterEmptyTile :577-579, band select
TiledRasterLayer.scala:67-71).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core.grid import Extent
from ..sources.datacube import DataCube


def filter_temporal(cube: DataCube, start: str, end: str) -> DataCube:
    """Half-open [start, end) key-range filter on time."""
    return cube.with_df(
        cube.df.where(
            (F.col("time") >= F.to_timestamp(F.lit(start)))
            & (F.col("time") < F.to_timestamp(F.lit(end)))
        )
    )


def filter_bbox(cube: DataCube, bbox: Extent) -> DataCube:
    """crop_metadata analog: drop keys whose tile extent misses the bbox —
    keys only, pixels untouched (OpenEOProcesses.scala:1162-1198). The
    predicate is closed-form arithmetic on (col, row): pushdown-friendly."""
    ld = cube.meta.layout
    c0 = int((bbox.xmin - ld.extent.xmin) // ld.tile_width)
    c1 = int(-(-(bbox.xmax - ld.extent.xmin) // ld.tile_width)) - 1
    r0 = int((ld.extent.ymax - bbox.ymax) // ld.tile_height)
    r1 = int(-(-(ld.extent.ymax - bbox.ymin) // ld.tile_height)) - 1
    return cube.with_df(
        cube.df.where(
            (F.col("col") >= c0) & (F.col("col") <= c1)
            & (F.col("row") >= r0) & (F.col("row") <= r1)
        )
    )


def crop(cube: DataCube, bbox: Extent) -> DataCube:
    """Full crop (crop_spatial, OpenEOProcesses.scala:1142-1159): key filter
    + per-tile masking of pixels outside the bbox (tile geometry unchanged;
    outside pixels -> nodata)."""
    import numpy as np

    from ..core.tiles import decode_tiles_batch_float, encode_tiles_batch, row_chunks

    pruned = filter_bbox(cube, bbox)
    ld = cube.meta.layout
    ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands

    def crop_tiles(it):
        for pdf in it:
            for s in row_chunks(len(pdf), n_bands, shape):
                res = pdf.iloc[s].copy()
                bands = res["bands"].tolist()
                # tiles fully inside the bbox pass through untouched
                partial, inside = [], []
                for i, (c, r) in enumerate(zip(res["col"], res["row"])):
                    te = ld.extent_for_key(int(c), int(r))
                    if not (bbox.xmin <= te.xmin and bbox.xmax >= te.xmax
                            and bbox.ymin <= te.ymin and bbox.ymax >= te.ymax):
                        xs, ys = ld.pixel_centers_for_key(int(c), int(r))
                        partial.append(i)
                        inside.append(
                            (xs[None, :] > bbox.xmin) & (xs[None, :] < bbox.xmax)
                            & (ys[:, None] > bbox.ymin) & (ys[:, None] < bbox.ymax)
                        )
                if partial:
                    vals = decode_tiles_batch_float(
                        [bands[i] for i in partial], ct, shape, n_bands
                    )
                    cropped = encode_tiles_batch(
                        np.where(np.stack(inside)[:, None], vals, np.nan), ct
                    )
                    for i, enc in zip(partial, cropped):
                        bands[i] = enc
                res["bands"] = [list(b) for b in bands]
                yield res

    return pruned.with_df(pruned.df.mapInPandas(crop_tiles, schema=pruned.df.schema))


def filter_bands(cube: DataCube, bands: list[str] | list[int]) -> DataCube:
    """Band projection (pi): select band indices/names out of the band array
    via element_at — column pruning for the tensor dimension."""
    if bands and isinstance(bands[0], str):
        idx = [cube.meta.band_names.index(b) for b in bands]
        names = tuple(bands)
    else:
        idx = [int(i) for i in bands]
        names = tuple(cube.meta.band_names[i] for i in idx)
    sel = F.array(*[F.element_at("bands", i + 1) for i in idx])
    return cube.with_df(cube.df.withColumn("bands", sel)).with_meta(band_names=names)


def filter_empty_tiles(cube: DataCube) -> DataCube:
    """Drop rows where every band is the EMPTY marker
    (filterEmptyTile, OpenEOProcesses.scala:577-579) — a pure SQL exists()."""
    return cube.with_df(
        cube.df.where(F.expr("exists(bands, b -> b IS NOT NULL AND length(b) > 0)"))
    )


def filter_negative_keys(cube: DataCube) -> DataCube:
    """Drop out-of-grid keys created by resampling
    (OpenEOProcesses.scala:804-830)."""
    ld = cube.meta.layout
    return cube.with_df(
        cube.df.where(
            (F.col("col") >= 0) & (F.col("row") >= 0)
            & (F.col("col") < ld.layout_cols) & (F.col("row") < ld.layout_rows)
        )
    )
