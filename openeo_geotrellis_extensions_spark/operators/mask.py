"""mask / mask_polygon — per-pixel masking by a mask cube or polygons.

Reference: ``rasterMaskGeneric`` (DatacubeSupport.scala:191-243) = join cube
with mask + per-pixel replace (mask != 0 -> replacement/nodata); spatial-mask
key pruning drops whole keys whose mask tile has no valid pixel before any
decode (DatacubeSupport.scala:279-296, applySpatialMask
FileLayerProvider.scala:435-458). Polygon mask: groupAndMaskByGeometry
(OpenEOProcesses.scala:324-386) / TiledRasterLayer.scala:86-126.

Ours: left join on key columns (mask side broadcast when small via AQE),
np.where inside one mapInPandas; the key-pruning pushdown is a left-semi join
on the mask's non-empty keys — pure DataFrame, runs before tile decode.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.tiles import (
    decode_tiles_batch_float,
    decoded_chunks,
    encode_tiles_batch,
    row_chunks,
)
from ..sources.datacube import DataCube
from .features import feature_geoms, feature_tile_keys, tile_mask


def _decode_mask(mask_bands, cell_type: str, shape) -> np.ndarray:
    """Mask band 0 of each row -> (n, h, w) with nodata and absent mask
    tiles read as 1 (masked)."""
    first = [None if mb is None else mb[:1] for mb in mask_bands]
    return np.nan_to_num(
        decode_tiles_batch_float(first, cell_type, shape, 1)[:, 0], nan=1.0
    )


def mask(
    cube: DataCube,
    mask_cube: DataCube,
    replacement: float | None = None,
    prune_keys: bool = True,
) -> DataCube:
    """Pixels where mask band0 != 0 (or mask is nodata) become
    ``replacement`` (None = nodata). Mask tile absent -> data unchanged
    (left join, rasterMaskGeneric semantics).

    ``prune_keys``: additionally drop cube keys whose mask tile exists and is
    ENTIRELY masked — the reference's applySpatialMask pushdown — via an
    anti-join on keys, before any data-tile decode. Keys with no mask tile
    are unaffected by pruning."""
    if mask_cube.meta.layout != cube.meta.layout:
        raise ValueError("mask requires identical layouts (resample the mask first)")
    keys = [k for k in cube.key_cols if k in mask_cube.df.columns]
    ct = cube.meta.cell_type
    mct = mask_cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    out_ct = parse_cell_type(ct)

    m = mask_cube.df.select(*keys, F.col("bands").alias("mask_bands"))
    joined = cube.df
    if prune_keys:
        # pushdown: drop cube keys whose mask tile is FULLY masked (no zero
        # pixel) via anti-join — keys with no mask tile at all are kept, so
        # the reference's "mask absent -> data unchanged" left-join semantics
        # (DatacubeSupport.scala:191-243) still hold after pruning
        def fully_masked(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                for s in row_chunks(len(pdf), 1, shape):
                    chunk = pdf.iloc[s]
                    mvals = _decode_mask(chunk["mask_bands"], mct, shape)
                    yield chunk[~(mvals == 0).any(axis=(1, 2))][[*keys]]

        dead = m.mapInPandas(
            fully_masked, schema=m.select(*keys).schema
        )
        joined = joined.join(dead, keys, "left_anti")

    joined = joined.join(m, keys, "left")
    out_schema = cube.df.schema

    def apply_mask(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        repl = np.nan if replacement is None else float(replacement)
        for pdf, vals in decoded_chunks(it, ct, shape, n_bands):
            has_mask = pdf["mask_bands"].notna().to_numpy()
            hide = _decode_mask(pdf["mask_bands"], mct, shape) != 0
            encoded = encode_tiles_batch(
                np.where(hide[:, None], repl, vals), out_ct
            )
            res = pdf.drop(columns=["mask_bands"])
            # mask tile absent -> data unchanged
            res["bands"] = [
                enc if has else list(raw)
                for enc, has, raw in zip(encoded, has_mask, pdf["bands"])
            ]
            yield res

    return cube.with_df(joined.mapInPandas(apply_mask, schema=out_schema))


def mask_polygon(
    cube: DataCube,
    features,
    replacement: float | None = None,
    inside: bool = False,
) -> DataCube:
    """Pixels OUTSIDE the union of polygons -> replacement/nodata (openEO
    mask_polygon; ``inside=True`` inverts). Keys fully outside are dropped
    (clip semantics of groupAndMaskByGeometry's stitch+crop)."""
    layout = cube.meta.layout
    ct = cube.meta.cell_type
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    out_ct = parse_cell_type(ct)

    fkeys = feature_tile_keys(features, layout)
    # union over features per key: contained if any feature contains the tile
    key_info = fkeys.groupBy("col", "row").agg(
        F.max("contained").alias("contained"),
        F.collect_set("feature_index").alias("fis"),
    )
    joined = cube.df.join(F.broadcast(key_info), ["col", "row"], "inner")
    geoms = feature_geoms(features)
    out_schema = cube.df.schema

    def apply_mask(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        repl = np.nan if replacement is None else float(replacement)
        mask_cache: dict[tuple, np.ndarray] = {}

        def inside_mask(c: int, r: int, contained, fis) -> np.ndarray:
            m = mask_cache.get((c, r))
            if m is not None:
                return m
            if contained:
                m = np.ones(shape, dtype=bool)
            else:
                m = np.zeros(shape, dtype=bool)
                for fi in fis:
                    m |= tile_mask(geoms[fi], layout, c, r)
            mask_cache[(c, r)] = m
            return m

        for pdf, vals in decoded_chunks(it, ct, shape, n_bands):
            inside_m = np.stack(
                [
                    inside_mask(int(c), int(r), contained, fis)
                    for c, r, contained, fis in zip(
                        pdf["col"], pdf["row"], pdf["contained"], pdf["fis"]
                    )
                ]
            )
            hide = inside_m if inside else ~inside_m
            res = pdf.drop(columns=["contained", "fis"])
            res["bands"] = encode_tiles_batch(
                np.where(hide[:, None], repl, vals), out_ct
            )
            yield res

    return cube.with_df(joined.mapInPandas(apply_mask, schema=out_schema))
