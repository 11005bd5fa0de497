"""GeoTIFF sink — dependency-free striped/Deflate GeoTIFF writer/reader.

No rasterio/GDAL exists in this environment, so the TIFF container is
written directly (little-endian classic TIFF, striped + Deflate-compressed
by default like the reference writer, chunky interleave, GeoTIFF
georeferencing tags: ModelPixelScale + ModelTiepoint + a minimal
GeoKeyDirectory for EPSG geographic CRS, GDAL_NODATA ascii tag).

Reference writers mirrored:
  - saveRDDGeneric single-file GeoTIFF (geotiff/package.scala:347-422):
    :func:`save_stitched_geotiff` collects one date's tiles to the driver and
    stitches — the reference does the same shuffle-to-driver (:424-492).
  - per tile-grid-cell tiffs (saveRDDGenericTileGrid :494-569, TileGrid.scala):
    :func:`save_geotiff_tiles` groups tiles into GxG super-cells with
    ``applyInPandas`` and each executor writes its own file — fully
    distributed, one file per (date, grid cell).

The bundled :func:`read_geotiff` parses back what we write (round-trip
tested); it is NOT a general TIFF reader.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from ..core.celltype import parse_cell_type
from ..core.grid import Extent
from ..core.tiles import encode_tiles_batch, paste_tiles
from ..sources.datacube import DataCube

_SAMPLE_FORMAT = {"u": 1, "i": 2, "f": 3}

_TYPE_SHORT, _TYPE_LONG, _TYPE_RATIONAL, _TYPE_ASCII, _TYPE_DOUBLE = 3, 4, 5, 2, 12


def _level_block(
    bands: np.ndarray,
    extent: Extent,
    nodata: float | None,
    epsg: int,
    compression: str,
    rows_per_strip: int,
    block_off: int,
    next_ifd: int,
    reduced: bool,
) -> tuple[bytes, int]:
    """Serialize one IFD + out-of-line values + strip data starting at file
    offset ``block_off``; the IFD's next pointer is ``next_ifd`` (0 = last).
    ``reduced`` marks overview levels (NewSubfileType = 1).
    -> (block bytes, offset of the 4-byte next-IFD pointer within the block)."""
    import zlib

    nb, h, w = bands.shape
    dt = bands.dtype
    bits = dt.itemsize * 8
    fmt = _SAMPLE_FORMAT[dt.kind]
    # chunky interleave: (h, w, nb), split into strips of rows_per_strip rows
    chunky = np.ascontiguousarray(np.transpose(bands, (1, 2, 0)))
    rps = min(rows_per_strip, h)
    n_strips = (h + rps - 1) // rps
    strips = []
    for s in range(n_strips):
        raw = chunky[s * rps : (s + 1) * rps].tobytes()
        strips.append(zlib.compress(raw, 6) if compression == "deflate" else raw)
    comp_tag = 8 if compression == "deflate" else 1

    sx = extent.width / w
    sy = extent.height / h
    pixel_scale = struct.pack("<3d", sx, sy, 0.0)
    tiepoint = struct.pack("<6d", 0.0, 0.0, 0.0, extent.xmin, extent.ymax, 0.0)
    # GeoKeys: directory version, rev, minor, count; then keys
    geokeys = struct.pack(
        "<16H",
        1, 1, 0, 3,
        1024, 0, 1, 2,      # GTModelTypeGeoKey = geographic
        1025, 0, 1, 1,      # GTRasterTypeGeoKey = PixelIsArea
        2048, 0, 1, epsg,   # GeographicTypeGeoKey
    )
    nodata_ascii = (
        (f"{int(nodata)}" if nodata is not None and float(nodata).is_integer()
         else f"{nodata}") + "\x00"
    ).encode() if nodata is not None and not (isinstance(nodata, float) and np.isnan(nodata)) else (b"nan\x00" if nodata is not None else None)

    strip_counts = [len(s) for s in strips]
    # placeholder offsets with the FINAL byte width so layout math is stable
    off_placeholder = (
        struct.pack(f"<{n_strips}I", *([0] * n_strips)) if n_strips > 1 else 0
    )
    counts_val = (
        struct.pack(f"<{n_strips}I", *strip_counts)
        if n_strips > 1
        else strip_counts[0]
    )
    entries: list[tuple[int, int, int, bytes | int]] = [
        (256, _TYPE_LONG, 1, w),
        (257, _TYPE_LONG, 1, h),
        (258, _TYPE_SHORT, nb, struct.pack(f"<{nb}H", *([bits] * nb))),
        (259, _TYPE_SHORT, 1, comp_tag),
        (262, _TYPE_SHORT, 1, 1),       # BlackIsZero
        (273, _TYPE_LONG, n_strips, off_placeholder),  # StripOffsets (patched)
        (277, _TYPE_SHORT, 1, nb),
        (278, _TYPE_LONG, 1, rps),
        (279, _TYPE_LONG, n_strips, counts_val),
        (284, _TYPE_SHORT, 1, 1),       # chunky
        (339, _TYPE_SHORT, nb, struct.pack(f"<{nb}H", *([fmt] * nb))),
        (33550, _TYPE_DOUBLE, 3, pixel_scale),
        (33922, _TYPE_DOUBLE, 6, tiepoint),
        (34735, _TYPE_SHORT, len(geokeys) // 2, geokeys),
    ]
    if reduced:
        entries.append((254, _TYPE_LONG, 1, 1))  # NewSubfileType: overview
    if nodata_ascii:
        entries.append((42113, _TYPE_ASCII, len(nodata_ascii), nodata_ascii))
    entries.sort(key=lambda e: e[0])

    n = len(entries)
    ifd_size = 2 + n * 12 + 4
    extra_off = block_off + ifd_size
    extra = b""
    ifd = struct.pack("<H", n)
    # first pass to place out-of-line values
    placed = []
    extra_pos = {}
    for tag, typ, cnt, val in entries:
        if isinstance(val, bytes) and len(val) > 4:
            extra_pos[tag] = len(extra)
            placed.append((tag, typ, cnt, extra_off + len(extra)))
            extra += val
        else:
            placed.append((tag, typ, cnt, val))
    data_off = extra_off + len(extra)
    offs = []
    pos = data_off
    for c in strip_counts:
        offs.append(pos)
        pos += c
    extra = bytearray(extra)
    if n_strips > 1:
        # patch the real strip offsets into the out-of-line array
        extra[extra_pos[273] : extra_pos[273] + 4 * n_strips] = struct.pack(
            f"<{n_strips}I", *offs
        )
    for tag, typ, cnt, val in placed:
        if tag == 273 and n_strips == 1:
            val = offs[0]
        if isinstance(val, bytes):
            ifd += struct.pack("<HHI4s", tag, typ, cnt, val.ljust(4, b"\x00"))
        else:
            ifd += struct.pack("<HHII", tag, typ, cnt, int(val))
    ifd += struct.pack("<I", next_ifd)
    return ifd + bytes(extra) + b"".join(strips), 2 + n * 12


def write_geotiff(
    path: str,
    bands: np.ndarray,
    extent: Extent,
    nodata: float | None = None,
    epsg: int = 4326,
    compression: str = "deflate",
    rows_per_strip: int = 256,
    overviews: bool = False,
    min_overview_size: int = 32,
) -> None:
    """bands: (n_bands, h, w) ndarray (single dtype). Chunky
    (pixel-interleaved), striped, Deflate-compressed by default — matching
    the reference's default writer options (geotiff/package.scala:133
    DeflateCompression). ``compression``: 'deflate' | 'none'.

    ``overviews=True`` appends chained reduced-resolution IFDs (2x nearest
    subsample per level down to ``min_overview_size``) — the reference's
    optional overview output (geotiff/package.scala:223,354)."""
    if bands.ndim == 2:
        bands = bands[None]
    levels = [bands]
    if overviews:
        cur = bands
        while min(cur.shape[1], cur.shape[2]) // 2 >= min_overview_size:
            cur = cur[:, ::2, ::2]
            levels.append(cur)

    # serialize sequentially; each block = [IFD][extra][strips], next-IFD
    # pointer chains to the following block (patched in place — no
    # re-serialize, so Deflate runs once per level)
    blocks = []
    off = 8
    for i, lv in enumerate(levels):
        last = i == len(levels) - 1
        block, ptr_off = _level_block(
            lv, extent, nodata, epsg, compression, rows_per_strip, off, 0, i > 0
        )
        if not last:
            patched = bytearray(block)
            patched[ptr_off : ptr_off + 4] = struct.pack("<I", off + len(block))
            block = bytes(patched)
        blocks.append(block)
        off += len(block)

    header = struct.pack("<2sHI", b"II", 42, 8)
    with open(path, "wb") as f:
        f.write(header + b"".join(blocks))


def read_geotiff(path: str) -> tuple[np.ndarray, Extent, float | None]:
    """Parse back a tiff written by :func:`write_geotiff` -> (bands, extent,
    nodata) of the FULL-resolution (first) IFD."""
    return read_geotiff_levels(path)[0]


def read_geotiff_levels(path: str) -> list[tuple[np.ndarray, Extent, float | None]]:
    """All IFD levels (full resolution first, then overviews)."""
    buf = open(path, "rb").read()
    assert buf[:4] == b"II\x2a\x00"
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    out = []
    while ifd_off:
        level, ifd_off = _read_ifd(buf, ifd_off)
        out.append(level)
    return out


def _parse_ifd_meta(buf: bytes, ifd_off: int) -> dict:
    """Parse one IFD's METADATA (no strip payload access): returns w, h, nb,
    dtype, compression, strip offsets/counts, rows_per_strip, extent, nodata,
    and the next-IFD offset. Raises struct.error/IndexError when ``buf`` is a
    too-short prefix (header-only readers grow and retry)."""
    if ifd_off + 2 > len(buf):
        raise IndexError("IFD beyond buffer")
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    if ifd_off + 2 + n * 12 + 4 > len(buf):
        raise IndexError("IFD entries beyond buffer")
    tags = {}
    for i in range(n):
        tag, typ, cnt, raw = struct.unpack_from("<HHI4s", buf, ifd_off + 2 + i * 12)
        tags[tag] = (typ, cnt, raw)
    (next_ifd,) = struct.unpack_from("<I", buf, ifd_off + 2 + n * 12)

    def vals(tag):
        typ, cnt, raw = tags[tag]
        size = {2: 1, 3: 2, 4: 4, 12: 8}[typ]
        total = size * cnt
        if total <= 4:
            data = raw[:total]
        else:
            (pos,) = struct.unpack("<I", raw)
            if pos + total > len(buf):
                raise IndexError("out-of-line value beyond buffer")
            data = buf[pos : pos + total]
        fmt = {2: "s", 3: "H", 4: "I", 12: "d"}[typ]
        if typ == 2:
            return data.rstrip(b"\x00").decode()
        return struct.unpack(f"<{cnt}{fmt}", data)

    def val(tag, idx=0):
        v = vals(tag)
        return v if isinstance(v, str) else v[idx]

    w, h = val(256), val(257)
    nb = val(277)
    bits = val(258)
    fmt = val(339)
    comp = val(259) if 259 in tags else 1
    kind = {1: "u", 2: "i", 3: "f"}[fmt]
    sx, sy = val(33550, 0), val(33550, 1)
    ox, oy = val(33922, 3), val(33922, 4)
    nodata = None
    if 42113 in tags:
        s = val(42113)
        nodata = float("nan") if s == "nan" else float(s)
    return {
        "w": w,
        "h": h,
        "nb": nb,
        "dtype": np.dtype(f"<{kind}{bits // 8}"),
        "comp": comp,
        "offs": list(vals(273)),
        "counts": list(vals(279)),
        "rows_per_strip": val(278) if 278 in tags else h,
        "extent": Extent(ox, oy - sy * h, ox + sx * w, oy),
        "nodata": nodata,
        "next_ifd": next_ifd,
    }


def read_geotiff_header(path: str, initial: int = 65536) -> dict:
    """Level-0 IFD metadata WITHOUT reading strip payloads — the driver-side
    half of a splittable read (strip offsets/counts let executors window-read
    byte ranges independently). Grows the prefix until the header parses."""
    size = initial
    while True:
        with open(path, "rb") as f:
            buf = f.read(size)
        if buf[:4] != b"II\x2a\x00":
            raise ValueError("not a little-endian classic TIFF")
        try:
            (ifd_off,) = struct.unpack_from("<I", buf, 4)
            return _parse_ifd_meta(buf, ifd_off)
        except (struct.error, IndexError):
            if len(buf) < size:
                raise ValueError("truncated TIFF header") from None
            size *= 4


def read_geotiff_strip(path: str, meta: dict, strip: int) -> np.ndarray:
    """Read ONE strip by its byte range (seek + read + per-strip inflate) ->
    (rows, w, nb) array — the executor-side half of the splittable read."""
    import zlib

    with open(path, "rb") as f:
        f.seek(meta["offs"][strip])
        raw = f.read(meta["counts"][strip])
    if meta["comp"] == 8:
        raw = zlib.decompress(raw)
    elif meta["comp"] != 1:
        raise ValueError(f"unsupported TIFF compression {meta['comp']}")
    rps = meta["rows_per_strip"]
    rows = min(rps, meta["h"] - strip * rps)
    return np.frombuffer(raw, dtype=meta["dtype"]).reshape(
        rows, meta["w"], meta["nb"]
    )


def _read_ifd(
    buf: bytes, ifd_off: int
) -> tuple[tuple[np.ndarray, Extent, float | None], int]:
    m = _parse_ifd_meta(buf, ifd_off)
    if m["comp"] == 8:
        import zlib

        raw = b"".join(
            zlib.decompress(buf[o : o + c]) for o, c in zip(m["offs"], m["counts"])
        )
    elif m["comp"] == 1:
        raw = b"".join(buf[o : o + c] for o, c in zip(m["offs"], m["counts"]))
    else:
        raise ValueError(f"unsupported TIFF compression {m['comp']}")
    arr = np.frombuffer(raw, dtype=m["dtype"]).reshape(m["h"], m["w"], m["nb"])
    return (np.transpose(arr, (2, 0, 1)), m["extent"], m["nodata"]), m["next_ifd"]


# ---------------------------------------------------------------------------
# Cube sinks
# ---------------------------------------------------------------------------


def save_stitched_geotiff(
    cube: DataCube, path: str, date: str | None = None,
    rows_per_strip: int = 256,
) -> str:
    """Collect one date's tiles, stitch the full raster, write ONE GeoTIFF —
    the reference's single-file save (geotiff/package.scala:347-422). For
    rasters too large for the driver use save_geotiff_tiles instead."""
    ld = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    df = cube.df
    if cube.meta.temporal:
        from pyspark.sql import functions as F

        date = date or str(df.agg(F.min("time")).collect()[0][0].date())
        df = df.where(F.to_date("time") == date)
    H = ld.layout_rows * ld.tile_rows
    W = ld.layout_cols * ld.tile_cols
    nb = cube.meta.n_bands
    rows = df.select("col", "row", "bands").collect()
    full = paste_tiles(
        np.full((nb, H, W), np.nan), [r.bands for r in rows],
        [(r.row * ld.tile_rows, r.col * ld.tile_cols) for r in rows],
        ct, cube.meta.tile_shape,
    )
    out = ct.from_float_nan(full)
    write_geotiff(path, out, ld.extent, nodata=ct.nodata,
                  rows_per_strip=rows_per_strip)
    return path


def save_geotiff_tiles(
    cube: DataCube, out_dir: str, grid: int = 2
) -> "pd.DataFrame":
    """One GeoTIFF per (date, grid-cell of ``grid`` x ``grid`` layout tiles),
    written BY THE EXECUTORS via applyInPandas (saveRDDGenericTileGrid
    analog, geotiff/package.scala:494-569). Returns an index DataFrame
    (path, date, gcol, grow, n_tiles) collected from the write tasks."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    ld = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    nb = cube.meta.n_bands
    th, tw = ld.tile_rows, ld.tile_cols
    temporal = cube.meta.temporal

    df = cube.df.withColumn("gcol", (F.col("col") / grid).cast("int")).withColumn(
        "grow", (F.col("row") / grid).cast("int")
    )
    keys = (["time"] if temporal else []) + ["gcol", "grow"]

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        gc, gr = int(pdf["gcol"].iloc[0]), int(pdf["grow"].iloc[0])
        date = pdf["time"].iloc[0].strftime("%Y-%m-%d") if temporal else "static"
        full = paste_tiles(
            np.full((nb, grid * th, grid * tw), np.nan), pdf["bands"],
            zip((pdf["row"].to_numpy() - gr * grid) * th,
                (pdf["col"].to_numpy() - gc * grid) * tw),
            ct, (th, tw),
        )
        out = ct.from_float_nan(full)
        x0 = ld.extent.xmin + gc * grid * ld.tile_width
        y1 = ld.extent.ymax - gr * grid * ld.tile_height
        ext = Extent(x0, y1 - grid * ld.tile_height, x0 + grid * ld.tile_width, y1)
        path = os.path.join(out_dir, f"{date}_g{gc}_{gr}.tif")
        write_geotiff(path, out, ext, nodata=ct.nodata)
        return pd.DataFrame(
            [(path, date, gc, gr, len(pdf))],
            columns=["path", "date", "gcol", "grow", "n_tiles"],
        )

    idx = df.groupBy(*keys).applyInPandas(
        write_group, schema="path string, date string, gcol int, grow int, n_tiles int"
    )
    return idx.toPandas()


def save_sample_geotiffs(cube: DataCube, features, out_dir: str) -> pd.DataFrame:
    """One GeoTIFF per (feature/polygon sample, date), stitched over the
    feature's tile keys and written BY EXECUTORS — the saveSamples /
    groupByFeatureAndWriteToTiff path (geotiff/package.scala:748-827).
    Returns index (feature_index, date, path, n_tiles)."""
    from pyspark.sql import functions as F

    from ..operators.zonal import feature_tile_keys

    os.makedirs(out_dir, exist_ok=True)
    ld = cube.meta.layout
    ct = parse_cell_type(cube.meta.cell_type)
    nb = cube.meta.n_bands
    th, tw = ld.tile_rows, ld.tile_cols
    temporal = cube.meta.temporal

    fkeys = feature_tile_keys(features, ld)
    # bounds come from the feature's FULL key cover, not the surviving
    # tiles: a dropped all-nodata tile (interior OR boundary) must stay a
    # nodata hole so every (feature, date) file shares one shape/extent
    fbounds = fkeys.groupBy("feature_index").agg(
        F.min("col").alias("_fc0"), F.max("col").alias("_fc1"),
        F.min("row").alias("_fr0"), F.max("row").alias("_fr1"),
    )
    joined = cube.df.join(F.broadcast(fkeys), ["col", "row"], "inner").join(
        F.broadcast(fbounds), "feature_index"
    )
    keys = ["feature_index"] + (["time"] if temporal else [])

    def write_sample(pdf: pd.DataFrame) -> pd.DataFrame:
        fi = int(pdf["feature_index"].iloc[0])
        date = pdf["time"].iloc[0].strftime("%Y-%m-%d") if temporal else "static"
        c0, r0 = int(pdf["_fc0"].iloc[0]), int(pdf["_fr0"].iloc[0])
        nc = int(pdf["_fc1"].iloc[0]) - c0 + 1
        nr = int(pdf["_fr1"].iloc[0]) - r0 + 1
        full = paste_tiles(
            np.full((nb, nr * th, nc * tw), np.nan), pdf["bands"],
            zip((pdf["row"].to_numpy() - r0) * th, (pdf["col"].to_numpy() - c0) * tw),
            ct, (th, tw),
        )
        out = ct.from_float_nan(full)
        x0 = ld.extent.xmin + c0 * ld.tile_width
        y1 = ld.extent.ymax - r0 * ld.tile_height
        ext = Extent(x0, y1 - nr * ld.tile_height, x0 + nc * ld.tile_width, y1)
        path = os.path.join(out_dir, f"sample_{fi}_{date}.tif")
        write_geotiff(path, out, ext, nodata=ct.nodata)
        return pd.DataFrame(
            [(fi, date, path, len(pdf))],
            columns=["feature_index", "date", "path", "n_tiles"],
        )

    idx = joined.groupBy(*keys).applyInPandas(
        write_sample,
        schema="feature_index int, date string, path string, n_tiles int",
    )
    return idx.toPandas()


def load_geotiff(spark, path: str, layout) -> DataCube:
    """GeoTIFF collection source, SPLITTABLE like the reference's windowed
    COG reads (FileLayerProvider window-read seam): the driver parses ONLY
    the level-0 IFD (read_geotiff_header — strip offsets/counts), then fans
    out one task per tile-row; each executor seeks + inflates exactly the
    strips overlapping its rows (read_geotiff_strip) and emits tiles.
    Values come back float64 with the file's nodata as NaN (a non-temporal
    cube). Requires a shared/POSIX view of ``path``."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from ..sources.datacube import CubeMeta, cube_schema

    ld = layout
    th, tw = ld.tile_rows, ld.tile_cols
    meta = read_geotiff_header(path)
    if meta["h"] != ld.layout_rows * th or meta["w"] != ld.layout_cols * tw:
        raise ValueError("layout does not match GeoTIFF pixel grid")
    nb = meta["nb"]
    rps = meta["rows_per_strip"]
    nodata = meta["nodata"]
    layout_cols = ld.layout_cols
    out_ct = parse_cell_type("float64")

    def read_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for task in pdf.itertuples(index=False):
                r = int(task.r)
                y0, y1 = r * th, (r + 1) * th
                strips = range(y0 // rps, (y1 - 1) // rps + 1)
                chunk = np.concatenate(
                    [read_geotiff_strip(path, meta, s) for s in strips], axis=0
                )
                local0 = y0 - (y0 // rps) * rps
                band_rows = chunk[local0 : local0 + th].astype(np.float64)
                if nodata is not None and not np.isnan(nodata):
                    band_rows = np.where(band_rows == nodata, np.nan, band_rows)
                # (th, W, nb) strip -> (layout_cols, nb, th, tw) tiles
                tiles = band_rows.reshape(th, layout_cols, tw, nb).transpose(1, 3, 0, 2)
                keep = np.nonzero(~np.isnan(tiles).all(axis=(1, 2, 3)))[0]
                rows += zip(keep.tolist(), [r] * len(keep),
                            encode_tiles_batch(tiles[keep], out_ct))
            yield pd.DataFrame(rows, columns=["col", "row", "bands"])

    tasks = spark.range(ld.layout_rows).select(
        F.col("id").cast("int").alias("r")
    ).repartition(min(64, ld.layout_rows))
    df = tasks.mapInPandas(read_rows, schema=cube_schema(False))
    names = tuple(f"b{i}" for i in range(nb))
    return DataCube(df, CubeMeta(ld, "float64", names, temporal=False))
