"""NetCDF sinks + source.

Reference: netcdf/NetCDFRDDWriter.scala:311-453 (saveSamples /
groupRDDBySample): group cube tiles per polygon sample, assemble a
(t, bands, y, x) array per sample, write one file per sample;
:74-110 (saveSingleNetCDF) for the single stitched file; and
layers/NetCDFCollection.scala:118 for reading a netCDF back into a cube.

The container is a real classic-format (CDF-1) netCDF file written by the
dependency-free writer in sinks/netcdf_format.py (CF-style coordinate
variables x/y/t, per-band data variables, _FillValue attributes). Executors
write sample files distributed (applyInPandas per feature); the single-file
writer assembles driver-side like the reference's shuffle-to-driver
saveSingleNetCDF and guards on size.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from ..core.celltype import parse_cell_type
from ..core.tiles import encode_tiles_batch, paste_tiles
from ..operators.zonal import feature_tile_keys
from ..sources.datacube import DataCube
from .netcdf_format import (
    NcVar,
    read_cdf1,
    read_cdf1_header,
    read_cdf1_window,
    write_cdf1,
)

#: refuse driver-side assembly beyond this many pixels (single-file writers
#: mirror the reference's shuffle-to-driver design; bigger cubes should use
#: save_samples or parquet)
MAX_SINGLE_FILE_PIXELS = 64_000_000

_EPOCH = np.datetime64("1970-01-01T00:00:00")


def _time_seconds(times) -> np.ndarray:
    return np.array(
        [(np.datetime64(t) - _EPOCH) / np.timedelta64(1, "s") for t in times],
        dtype=np.float64,
    )


def write_netcdf(
    path: str,
    data: np.ndarray,
    coords: dict,
    band_names: tuple[str, ...] | None = None,
    global_atts: dict | None = None,
) -> str:
    """Write a (t, band, y, x) float array as a CDF-1 netCDF file with CF
    coordinate variables. ``coords`` needs 'x', 'y' (1-D arrays of pixel
    centers) and 't' (list of timestamps); NaN encodes as _FillValue."""
    nt, nb, ny, nx = data.shape
    band_names = band_names or tuple(f"band{b}" for b in range(nb))
    dims = [("t", nt), ("y", ny), ("x", nx)]
    fill = np.float32(np.finfo(np.float32).max)
    variables = [
        NcVar("t", "double", ["t"], _time_seconds(coords["t"]),
              {"units": "seconds since 1970-01-01 00:00:00", "standard_name": "time"}),
        NcVar("y", "double", ["y"], np.asarray(coords["y"], dtype=np.float64),
              {"standard_name": "projection_y_coordinate"}),
        NcVar("x", "double", ["x"], np.asarray(coords["x"], dtype=np.float64),
              {"standard_name": "projection_x_coordinate"}),
    ]
    for b, name in enumerate(band_names):
        plane = data[:, b].astype(np.float32)
        plane = np.where(np.isnan(plane), fill, plane)
        variables.append(
            # _FillValue typed float32 to match the NC_FLOAT variable
            # (netCDF/CF requires the attribute type to equal the var type)
            NcVar(name, "float", ["t", "y", "x"], plane, {"_FillValue": fill})
        )
    atts = {"Conventions": "CF-1.8", **(global_atts or {})}
    return write_cdf1(path, dims, variables, atts)


def read_netcdf(path: str) -> tuple[np.ndarray, dict]:
    """Inverse of :func:`write_netcdf`: -> ((t, band, y, x) float64 array
    with NaN fill, coords {'t': seconds, 'x': ..., 'y': ..., 'bands': [...]})."""
    nc = read_cdf1(path)
    coord_names = {"t", "x", "y"}
    band_names = [n for n in nc["vars"] if n not in coord_names]
    t = nc["vars"]["t"]["data"]
    y = nc["vars"]["y"]["data"]
    x = nc["vars"]["x"]["data"]
    planes = []
    for n in band_names:
        v = nc["vars"][n]
        plane = v["data"].astype(np.float64)
        fill = v["atts"].get("_FillValue")
        if fill is not None:
            plane = np.where(plane == np.float64(np.float32(fill)), np.nan, plane)
        planes.append(plane)
    data = np.stack(planes, axis=1)  # (t, band, y, x)
    return data, {"t": t, "x": x, "y": y, "bands": band_names}


def save_netcdf(cube: DataCube, path: str) -> str:
    """Single stitched netCDF for the whole cube (saveSingleNetCDF analog,
    NetCDFRDDWriter.scala:74-110): tiles shuffle to the driver, assembled
    into one (t, band, y, x) array. Raises beyond MAX_SINGLE_FILE_PIXELS —
    use save_samples / parquet for bigger cubes."""
    ld = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    nb = cube.meta.n_bands
    th, tw = ld.tile_rows, ld.tile_cols
    rows = cube.df.collect()
    if not rows:
        raise ValueError("empty cube")
    temporal = cube.meta.temporal
    times = sorted({r.time for r in rows}) if temporal else [None]
    # place tiles by KEY VALUE over the min..max key range: gaps in the key
    # set (dropped all-nodata tiles) remain nodata holes so the CF
    # coordinate arrays stay aligned with the data
    c0 = min(r.col for r in rows)
    r0 = min(r.row for r in rows)
    nc = max(r.col for r in rows) - c0 + 1
    nr = max(r.row for r in rows) - r0 + 1
    ny, nx = nr * th, nc * tw
    if len(times) * nb * ny * nx > MAX_SINGLE_FILE_PIXELS:
        raise ValueError(
            "cube too large for single-file netCDF driver assembly; "
            "use save_samples (distributed, one file per feature)"
        )
    tpos = {t: i for i, t in enumerate(times)}
    data = paste_tiles(
        np.full((len(times), nb, ny, nx), np.nan), [r.bands for r in rows],
        [
            (tpos[r.time] if temporal else 0, (r.row - r0) * th, (r.col - c0) * tw)
            for r in rows
        ],
        ct, (th, tw),
    )
    x0 = ld.extent.xmin + c0 * ld.tile_width
    y1 = ld.extent.ymax - r0 * ld.tile_height
    coords = {
        "t": [t if temporal else "1970-01-01" for t in times],
        "x": x0 + (np.arange(nx) + 0.5) * ld.cell_width,
        "y": y1 - (np.arange(ny) + 0.5) * ld.cell_height,
    }
    return write_netcdf(
        path, data, coords, tuple(cube.meta.band_names), {"crs": ld.crs}
    )


def save_samples(cube: DataCube, features, out_dir: str) -> pd.DataFrame:
    """One (t, band, y, x) netCDF file per feature (sample), assembled and
    written BY EXECUTORS (NetCDFRDDWriter.saveSamples semantics). Returns
    index (feature_index, path, n_t, shape)."""
    os.makedirs(out_dir, exist_ok=True)
    ld = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    nb = cube.meta.n_bands
    th, tw = ld.tile_rows, ld.tile_cols
    band_names = tuple(cube.meta.band_names)  # plain tuple: the closure must
    # not capture `cube` (its df holds the SparkContext, unpicklable)
    crs = ld.crs

    from pyspark.sql import functions as F

    fkeys = feature_tile_keys(features, ld)
    # bounds from the feature's FULL key cover (see save_sample_geotiffs):
    # dropped boundary tiles must not shrink/shift the sample array
    fbounds = fkeys.groupBy("feature_index").agg(
        F.min("col").alias("_fc0"), F.max("col").alias("_fc1"),
        F.min("row").alias("_fr0"), F.max("row").alias("_fr1"),
    )
    joined = cube.df.join(F.broadcast(fkeys), ["col", "row"], "inner").join(
        F.broadcast(fbounds), "feature_index"
    )

    def write_sample(pdf: pd.DataFrame) -> pd.DataFrame:
        fi = int(pdf["feature_index"].iloc[0])
        times = sorted(pdf["time"].unique())
        tpos = {t: i for i, t in enumerate(times)}
        c0, r0 = int(pdf["_fc0"].iloc[0]), int(pdf["_fr0"].iloc[0])
        nc = int(pdf["_fc1"].iloc[0]) - c0 + 1
        nr = int(pdf["_fr1"].iloc[0]) - r0 + 1
        ny, nx = nr * th, nc * tw
        data = paste_tiles(
            np.full((len(times), nb, ny, nx), np.nan), pdf["bands"],
            zip([tpos[t] for t in pdf["time"]], (pdf["row"].to_numpy() - r0) * th,
                (pdf["col"].to_numpy() - c0) * tw),
            ct, (th, tw),
        )
        x0 = ld.extent.xmin + c0 * ld.tile_width
        y1 = ld.extent.ymax - r0 * ld.tile_height
        path = os.path.join(out_dir, f"sample_{fi}.nc")
        write_netcdf(
            path,
            data,
            {
                "t": list(times),
                "x": x0 + (np.arange(nx) + 0.5) * ld.cell_width,
                "y": y1 - (np.arange(ny) + 0.5) * ld.cell_height,
            },
            band_names,
            {"crs": crs, "feature_index": fi},
        )
        return pd.DataFrame(
            [(fi, path, len(times), f"{data.shape}")],
            columns=["feature_index", "path", "n_t", "shape"],
        )

    idx = joined.groupBy("feature_index").applyInPandas(
        write_sample, schema="feature_index int, path string, n_t int, shape string"
    )
    return idx.toPandas()


def load_netcdf(spark, path: str, layout, dates: list | None = None) -> DataCube:
    """NetCDF collection source (layers/NetCDFCollection.scala:118 analog,
    distributed like the reference's stacked read): read a (t, band, y, x)
    netCDF written by this module back into a cube on ``layout``.

    SPLITTABLE: CDF-1 variables are plain big-endian arrays at fixed
    offsets, so the driver parses ONLY the header (read_cdf1_header) and
    fans out one task per (time, tile-row); each executor task seeks
    directly to its (t, y-strip) byte range per band (read_cdf1_window) and
    reads exactly tile_rows x full-width values — no task ever touches the
    rest of the file, which is what lets a cube-sized .nc load across a
    cluster. Requires a shared/POSIX view of ``path`` (same assumption as
    every file-based source here)."""
    from pyspark.sql import functions as F

    from ..sources.datacube import CubeMeta, cube_schema

    ld = layout
    ct = parse_cell_type("float32")
    th, tw = ld.tile_rows, ld.tile_cols
    hdr = read_cdf1_header(path)
    coord_names = {"t", "x", "y"}
    band_names = [n for n in hdr["vars"] if n not in coord_names]
    nb = len(band_names)
    nt, ny, nx = hdr["vars"][band_names[0]]["shape"]
    if ny != ld.layout_rows * th or nx != ld.layout_cols * tw:
        raise ValueError("layout does not match netCDF grid shape")
    t_secs = read_cdf1_window(path, hdr["vars"]["t"], (), 0, nt).astype(np.float64)
    times = (
        [pd.Timestamp(t) for t in dates]
        if dates is not None
        else [pd.Timestamp(np.datetime64(int(s), "s")) for s in t_secs]
    )
    band_meta = [hdr["vars"][n] for n in band_names]
    fills = [
        None if m["atts"].get("_FillValue") is None
        else np.float64(np.float32(m["atts"]["_FillValue"]))
        for m in band_meta
    ]
    layout_cols = ld.layout_cols

    def read_strips(it):
        for pdf in it:
            rows = []
            for task in pdf.itertuples(index=False):
                ti, r = int(task.ti), int(task.r)
                strips = []
                for m, fill in zip(band_meta, fills):
                    strip = read_cdf1_window(path, m, (ti,), r * th, th).astype(
                        np.float64
                    )
                    if fill is not None:
                        strip = np.where(strip == fill, np.nan, strip)
                    strips.append(strip)
                # (nb, th, W) strips -> (layout_cols, nb, th, tw) tiles
                tiles = np.stack(strips).reshape(nb, th, layout_cols, tw).transpose(2, 0, 1, 3)
                keep = np.nonzero(~np.isnan(tiles).all(axis=(1, 2, 3)))[0]
                rows += zip([times[ti]] * len(keep), keep.tolist(), [r] * len(keep),
                            encode_tiles_batch(tiles[keep], ct))
            yield pd.DataFrame(rows, columns=["time", "col", "row", "bands"])

    tasks = spark.range(nt * ld.layout_rows).select(
        (F.col("id") % nt).cast("int").alias("ti"),
        (F.col("id") / nt).cast("int").alias("r"),
    ).repartition(min(64, nt * ld.layout_rows))
    df = tasks.mapInPandas(read_strips, schema=cube_schema(True))
    return DataCube(df, CubeMeta(ld, "float32", tuple(band_names), temporal=True))
