"""Tile codec: numpy band arrays <-> Spark ``binary`` columns.

The reference's ``MultibandTile`` becomes a DataFrame column
``bands: array<binary>`` where each element is the raw C-order bytes of one
(h, w) band; dtype/shape/nodata live in cube-level metadata (see
sources/datacube.py), mirroring how ``TileLayerMetadata`` is a driver-side
record in the reference (DatacubeSupport.scala:110-120).

An all-nodata band is encoded as the EMPTY marker b"" — the analog of
``EmptyMultibandTile`` (openeo-geotrellis/.../EmptyMultibandTile.scala), so
empty tiles cost ~0 bytes in shuffle/storage.

This module is the only one that knows the byte layout, the float/NaN
conversion and the EMPTY rule. Everything else works on whole batches
through its public entry points:

  - :func:`decode_tiles_batch_float` — band lists -> (n, nb, h, w) float64
    with nodata as NaN;
  - :func:`encode_tiles_batch` — (n, nb, h, w) float64 with NaN -> one
    ``list[bytes]`` per row;
  - :func:`encode_tiles_native` — the same from a stack in the cell type's dtype;
  - :func:`first_valid` / :func:`merge_tiles` — the overlap merge of tiles;
  - :func:`empty_bands` / :func:`has_data` — the EMPTY marker as Columns.

Large batches are processed in row chunks of at most :data:`CHUNK_ELEMENTS`
float64 values per temporary (:func:`row_chunks`, :func:`decoded_chunks`),
so a 10k-row Arrow batch of 256x256 tiles never decodes into several GB.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .celltype import CellType, parse_cell_type

EMPTY = b""  # zero-storage all-nodata band marker

#: cap on float64 elements per decoded (rows, nb, h, w) temporary (~64 MB)
CHUNK_ELEMENTS = 8_000_000


def _cell_type(cell_type: CellType | str) -> CellType:
    return parse_cell_type(cell_type) if isinstance(cell_type, str) else cell_type


def is_empty_band(buf: bytes | None) -> bool:
    return buf is None or len(buf) == 0


def row_chunks(n_rows: int, n_bands: int, shape: tuple[int, int]) -> Iterator[slice]:
    """Row slices covering ``n_rows`` tiles, each decoding to at most
    CHUNK_ELEMENTS float64 values (at least one row per chunk)."""
    step = max(1, CHUNK_ELEMENTS // max(1, n_bands * shape[0] * shape[1]))
    for lo in range(0, n_rows, step):
        yield slice(lo, min(lo + step, n_rows))


def decoded_chunks(it, cell_type: CellType | str, shape: tuple[int, int], n_bands: int):
    """mapInPandas helper: for every bounded row chunk of every batch in
    ``it`` yield ``(chunk, values)`` — the chunk's pandas rows and its
    decoded (rows, n_bands, h, w) float64 stack."""
    for pdf in it:
        for s in row_chunks(len(pdf), n_bands, shape):
            chunk = pdf.iloc[s]
            yield chunk, decode_tiles_batch_float(
                chunk["bands"].tolist(), cell_type, shape, n_bands
            )


def encode_tiles_native(arr: np.ndarray, cell_type: CellType | str) -> list[list[bytes]]:
    """(n, nb, h, w) array already in the cell type's dtype -> per-row band
    bytes, all-nodata bands -> EMPTY."""
    ct = _cell_type(cell_type)
    n, nb = arr.shape[:2]
    flat = np.ascontiguousarray(arr).reshape(n * nb, -1)
    if ct.has_nodata:
        keep = ct.valid_mask(flat).any(axis=1).tolist()
    else:
        keep = [True] * (n * nb)
    bufs = [band.tobytes() if k else EMPTY for band, k in zip(flat, keep)]
    return [bufs[i * nb : (i + 1) * nb] for i in range(n)]


def encode_tiles_batch(values: np.ndarray, cell_type: CellType | str) -> list[list[bytes]]:
    """Encode a (n, nb, h, w) float64 stack (NaN = nodata) into ``cell_type``:
    one ``list[bytes]`` of nb bands per row."""
    ct = _cell_type(cell_type)
    return encode_tiles_native(ct.from_float_nan(np.asarray(values, dtype=np.float64)), ct)


def encode_band(arr: np.ndarray | None, cell_type: CellType | str) -> bytes:
    """Encode one band given in native values (None -> EMPTY) — for
    driver-side constructors that build tiles outside the float form."""
    if arr is None:
        return EMPTY
    ct = _cell_type(cell_type)
    a = np.asarray(arr, dtype=ct.dtype)
    return encode_tiles_native(a.reshape(1, 1, *a.shape), ct)[0][0]


def decode_band(
    buf: bytes | None, cell_type: CellType | str, shape: tuple[int, int]
) -> np.ndarray:
    """Decode one band to native values; EMPTY/None -> all-nodata array."""
    ct = _cell_type(cell_type)
    if is_empty_band(buf):
        return np.full(shape, ct.nodata if ct.nodata is not None else 0, dtype=ct.dtype)
    return np.frombuffer(buf, dtype=ct.dtype).reshape(shape)


def decode_tiles_batch_float(
    band_lists, cell_type: CellType | str, shape: tuple[int, int], n_bands: int
) -> np.ndarray:
    """Decode a whole batch of tile rows in one numpy pass ->
    (n_rows, n_bands, h, w) float64 with nodata -> NaN. Empty-band markers
    ('' / None), missing trailing bands and None rows decode to all-NaN
    (or 0 for no-nodata cell types).

    One ``b"".join`` + one ``frombuffer`` + one vectorized nodata mask over
    the entire batch instead of n_rows x n_bands small-array round trips."""
    ct = _cell_type(cell_type)
    n = len(band_lists)
    zero = bytes(shape[0] * shape[1] * ct.dtype.itemsize)
    flat: list[bytes] = []
    empties: list[tuple[int, int]] = []
    for i, bl in enumerate(band_lists):
        for b in range(n_bands):
            buf = bl[b] if bl is not None and b < len(bl) else None
            if is_empty_band(buf):
                empties.append((i, b))
                flat.append(zero)
            else:
                flat.append(buf)
    arr = np.frombuffer(b"".join(flat), dtype=ct.dtype).reshape(n, n_bands, *shape)
    out = ct.to_float_nan(arr)
    fill = np.nan if ct.has_nodata else 0.0
    for i, b in empties:
        out[i, b] = fill
    return out


def decode_tile_float(
    bufs: list[bytes | None], cell_type: CellType | str, shape: tuple[int, int]
) -> np.ndarray:
    """One tile's band list -> (nb, h, w) float64 with nodata -> NaN."""
    return decode_tiles_batch_float([bufs], cell_type, shape, len(bufs))[0]


def paste_tiles(
    out: np.ndarray, band_lists, offsets, cell_type: CellType | str,
    shape: tuple[int, int],
) -> np.ndarray:
    """Decode tiles chunk by chunk into a preallocated NaN mosaic ``out``
    (..., nb, H, W): tile i lands at ``out[*lead, :, y:y+h, x:x+w]`` for
    ``offsets[i] == (*lead, y, x)``."""
    h, w = shape
    n_bands = out.shape[-3]
    band_lists, offsets = list(band_lists), list(offsets)
    for s in row_chunks(len(band_lists), n_bands, shape):
        vals = decode_tiles_batch_float(band_lists[s], cell_type, shape, n_bands)
        for v, (*lead, y, x) in zip(vals, offsets[s]):
            out[(*lead, slice(None), slice(y, y + h), slice(x, x + w))] = v
    return out


def first_valid(vals: np.ndarray) -> np.ndarray:
    """Fold a (k, nb, h, w) float stack of k overlapping tiles of one key
    (NaN = nodata) into (1, nb, h, w): per pixel the first non-nodata value
    wins (the Geotrellis ``merge`` of overlapping tiles)."""
    first = np.argmax(~np.isnan(vals), axis=0)
    return np.take_along_axis(vals, first[None], axis=0)


def merge_tiles(
    band_lists, cell_type: CellType | str, shape: tuple[int, int], n_bands: int
) -> list[bytes]:
    """:func:`first_valid` over several encoded tiles of one key."""
    vals = decode_tiles_batch_float(list(band_lists), cell_type, shape, n_bands)
    return encode_tiles_batch(first_valid(vals), cell_type)[0]


def empty_bands(n_bands: int) -> Column:
    """Spark Column: an array of ``n_bands`` EMPTY markers (a missing tile)."""
    return F.array(*[F.lit(EMPTY) for _ in range(n_bands)])


def has_data() -> Column:
    """Spark predicate: some band of the tile is not EMPTY."""
    return F.exists("bands", lambda b: b.isNotNull() & (F.length(b) > 0))
