"""apply_kernel — focal convolution with tile halos.

Reference: ``apply_kernel`` (OpenEOProcesses.scala:1101-1130) buffers tiles
(focal/MultibandFocalOperation.scala:30-57) and convolves per band, with an
FFT path for kernels > 10 px (geotrellis-common/.../FFTConvolve.scala).

Ours: the halo is an 8-neighbor self-join expressed as a 9-way offset explode
(pure column ops — each tile row emits one row per neighbor key it
contributes to) followed by ``groupBy(key).applyInPandas`` that assembles the
3x3 padded array and convolves. Shuffle volume = 9x tiles, the same cost
shape as the reference's bufferTiles. Direct convolution via
sliding_window_view for small kernels, numpy FFT above 10 px (the
reference's threshold).

Nodata semantics: NaN inputs contribute 0 to neighbor sums, and output pixels
whose center input was NaN stay NaN (Geotrellis focal nodata convention).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.celltype import parse_cell_type
from ..core.tiles import encode_tiles_batch, paste_tiles
from ..sources.datacube import DataCube


def _convolve2d_same(arr: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    kh, kw = kernel.shape
    if max(kh, kw) > 10:  # FFT path threshold, FFTConvolve.scala
        H = np.fft.rfft2(arr, s=(arr.shape[0] + kh - 1, arr.shape[1] + kw - 1))
        K = np.fft.rfft2(kernel, s=(arr.shape[0] + kh - 1, arr.shape[1] + kw - 1))
        full = np.fft.irfft2(H * K, s=(arr.shape[0] + kh - 1, arr.shape[1] + kw - 1))
        y0, x0 = (kh - 1) // 2, (kw - 1) // 2
        return full[y0 : y0 + arr.shape[0], x0 : x0 + arr.shape[1]]
    pad_y, pad_x = kh // 2, kw // 2
    padded = np.pad(arr, ((pad_y, kh - 1 - pad_y), (pad_x, kw - 1 - pad_x)))
    win = np.lib.stride_tricks.sliding_window_view(padded, (kh, kw))
    # correlation with flipped kernel = convolution
    return np.einsum("ijkl,kl->ij", win, kernel[::-1, ::-1])


def map_halos(cube: DataCube, fn, out_ct) -> DataFrame:
    """For every tile key, assemble the (bands, 3h, 3w) neighborhood with the
    tile in the middle (missing neighbors NaN), call ``fn(halo)`` -> float
    stack (bands, ...) and encode it into ``out_ct``. One shuffle: the 9-way
    offset explode + groupBy(key); the result has the cube's schema."""
    h, w = cube.meta.tile_shape
    ct = cube.meta.cell_type
    n_bands = cube.meta.n_bands
    keys = cube.key_cols
    time_keys = [k for k in keys if k not in ("col", "row")]

    # each tile contributes to itself + 8 neighbors
    offsets = F.expr(
        "explode(array(" + ", ".join(
            f"struct({dc} as dc, {dr} as dr)" for dr in (-1, 0, 1) for dc in (-1, 0, 1)
        ) + "))"
    )
    exploded = cube.df.select(
        *time_keys, "col", "row", "bands", offsets.alias("o")
    ).select(
        *time_keys,
        (F.col("col") + F.col("o.dc")).alias("col"),
        (F.col("row") + F.col("o.dr")).alias("row"),
        (-F.col("o.dc")).alias("dc"),  # position of the contributor rel. to target
        (-F.col("o.dr")).alias("dr"),
        "bands",
    ).where(
        (F.col("col") >= 0) & (F.col("row") >= 0)
        & (F.col("col") < cube.meta.layout.layout_cols)
        & (F.col("row") < cube.meta.layout.layout_rows)
    )
    out_schema = cube.df.schema

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        dc = pdf["dc"].to_numpy()
        dr = pdf["dr"].to_numpy()
        if not ((dc == 0) & (dr == 0)).any():
            return pd.DataFrame(columns=list(out_schema.fieldNames()))
        halo = paste_tiles(
            np.full((n_bands, 3 * h, 3 * w), np.nan), pdf["bands"],
            zip((dr + 1) * h, (dc + 1) * w), ct, (h, w),
        )
        bands = encode_tiles_batch(np.asarray(fn(halo))[None], out_ct)[0]
        first = pdf.iloc[0]
        row = [first[k] for k in time_keys] + [int(first["col"]), int(first["row"]), bands]
        return pd.DataFrame([row], columns=time_keys + ["col", "row", "bands"])

    return exploded.groupBy(*keys).applyInPandas(run, schema=out_schema)


def apply_kernel(cube: DataCube, kernel, factor: float = 1.0) -> DataCube:
    kernel = np.asarray(kernel, dtype=np.float64)
    kh, kw = kernel.shape
    h, w = cube.meta.tile_shape
    if kh // 2 > h or kw // 2 > w:
        raise ValueError("kernel halo exceeds tile size")
    ct = cube.meta.cell_type
    out_ct = parse_cell_type("float32" if parse_cell_type(ct).base != "float64" else "float64")

    def convolve(halo: np.ndarray) -> np.ndarray:
        nanmask = np.isnan(halo)
        filled = np.where(nanmask, 0.0, halo)
        conv = np.stack([_convolve2d_same(band, kernel) * factor for band in filled])
        conv[nanmask] = np.nan  # center-nodata stays nodata
        return conv[:, h : 2 * h, w : 2 * w]

    df = map_halos(cube, convolve, out_ct)
    return DataCube(df, cube.meta).with_meta(cell_type=out_ct.name)
