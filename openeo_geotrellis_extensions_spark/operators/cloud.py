"""SCL dilation cloud mask + chunk_polygon.

Reference:
  - ``toSclDilationMask`` (OpenEOProcesses.scala:1200-1212;
    geotrellis-common/.../CloudFilterStrategy.scala:54-300): build a binary
    mask from SCL classification values, then morphologically dilate it with
    two kernels so cloud shadows/edges are masked too.
  - ``chunk_polygon`` (groupAndMaskByGeometry + mergeGroupedByGeometry,
    OpenEOProcesses.scala:324-399): cube -> per-polygon chunks -> user fn ->
    back to cube.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.tiles import (
    decode_tiles_batch_float,
    decoded_chunks,
    encode_tiles_batch,
    merge_tiles,
)
from ..sources.datacube import DataCube
from .kernel import apply_kernel
from .mask import mask as mask_op
from .features import feature_geoms, feature_tile_keys, tile_mask


def to_scl_dilation_mask(
    scl_cube: DataCube,
    mask_values: tuple[int, ...] = (3, 8, 9, 10, 11),
    dilation_px: int = 2,
) -> DataCube:
    """SCL band -> binary mask (1 = masked) dilated by ``dilation_px``.
    Dilation = (binary mask convolved with a box kernel) > 0 — the
    convolution-based morphology of CloudFilterStrategy. The result plugs
    straight into operators.mask.mask()."""
    # membership test per pixel: 1 if scl in mask_values else 0
    # (bind plain values — closures must not capture the cube/df)
    mask_values = tuple(mask_values)
    shape = scl_cube.meta.tile_shape
    src_ct = scl_cube.meta.cell_type
    out_ct = parse_cell_type("uint8ud255")

    def binarize(it):
        for pdf, vals in decoded_chunks(it, src_ct, shape, 1):
            res = pdf.copy()
            res["bands"] = encode_tiles_batch(
                np.isin(vals, mask_values).astype(np.float64), out_ct
            )
            yield res

    bin_cube = DataCube(
        scl_cube.df.mapInPandas(binarize, schema=scl_cube.df.schema),
        scl_cube.meta,
    ).with_meta(cell_type="uint8ud255", band_names=("mask",))

    k = 2 * dilation_px + 1
    kernel = np.ones((k, k))
    conv = apply_kernel(bin_cube, kernel)
    conv_ct = conv.meta.cell_type

    def threshold(it):
        for pdf, vals in decoded_chunks(it, conv_ct, shape, 1):
            res = pdf.copy()
            res["bands"] = encode_tiles_batch(
                (np.nan_to_num(vals, nan=0.0) > 0).astype(np.float64), out_ct
            )
            yield res

    df = conv.df.mapInPandas(threshold, schema=conv.df.schema)
    return DataCube(df, conv.meta).with_meta(cell_type="uint8ud255", band_names=("mask",))


def chunk_polygon(
    cube: DataCube,
    features,
    fn,
    mask_outside: bool = True,
) -> DataCube:
    """Apply ``fn(stack: (t, bands, h, w), feature_index) -> same shape`` per
    polygon chunk: tiles covered by each feature are grouped, masked to the
    polygon, transformed, and re-emitted as cube rows (duplicate keys across
    overlapping polygons merge by first-non-nodata, mergeTiles
    OpenEOProcesses.scala:1214-1216)."""
    layout = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    shape = cube.meta.tile_shape
    n_bands = cube.meta.n_bands
    fkeys = F.broadcast(feature_tile_keys(features, layout))
    joined = cube.df.join(fkeys, ["col", "row"], "inner")
    geoms = feature_geoms(features)

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        fi = int(pdf["feature_index"].iloc[0])
        rows = []
        # the callback sees the FULL time stack per tile (t, bands, h, w) —
        # the xarray chunk contract of runChunkPolygonUserCode
        for (c, r), grp in pdf.groupby(["col", "row"]):
            grp = grp.sort_values("time")
            stack = decode_tiles_batch_float(
                grp["bands"].tolist(), ct, shape, n_bands
            )  # (T, bands, h, w)
            if mask_outside and not grp["contained"].iloc[0]:
                inside = tile_mask(geoms[fi], layout, int(c), int(r))
                stack = np.where(inside[None, None], stack, np.nan)
            res = np.asarray(fn(stack, fi), dtype=np.float64)
            if res.shape != stack.shape:
                raise ValueError(
                    f"chunk fn must preserve shape {stack.shape}, got {res.shape}"
                )
            bands = encode_tiles_batch(res, ct)
            rows += [(t, int(c), int(r), b) for t, b in zip(grp["time"], bands)]
        return pd.DataFrame(rows, columns=["time", "col", "row", "bands"])

    chunked = joined.groupBy("feature_index").applyInPandas(
        per_chunk, schema=cube.df.schema
    )

    # merge duplicate keys from overlapping polygons: first non-nodata wins
    def merge_key(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        return pd.DataFrame(
            [(first["time"], int(first["col"]), int(first["row"]),
              merge_tiles(pdf["bands"], ct, shape, n_bands))],
            columns=["time", "col", "row", "bands"],
        )

    df = chunked.groupBy("time", "col", "row").applyInPandas(
        merge_key, schema=cube.df.schema
    )
    return cube.with_df(df)
