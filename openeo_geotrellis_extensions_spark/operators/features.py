"""How a feature table ``(feature_index, geojson)`` meets the tile grid.

Every polygon process (aggregate_spatial, mask_polygon, chunk_polygon,
rasterize, the sample sinks) goes through this module, as every polygon
process of the reference goes through one clipToGrid + RasterizeRDD path
(AggregatePolygonProcess.scala:256, VectorCubeMethods.scala:110-118):

  - :func:`feature_tile_keys` — features -> candidate tile keys;
  - :func:`feature_key_bounds` — those keys plus each feature's key bounds;
  - :func:`feature_geoms` — the one driver collect of the feature table,
    as a picklable ``feature_index -> Geometry`` lookup for UDF closures;
  - :func:`tile_mask` — the one pixel rule: a polygon takes the pixels
    whose centres it contains, a point takes the pixel that contains it.
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..core.geom import Geometry, classify_rect, parse_geometry, rasterize
from ..core.grid import LayoutDefinition

_KEYS_SCHEMA = StructType(
    [
        StructField("feature_index", IntegerType()),
        StructField("col", IntegerType()),
        StructField("row", IntegerType()),
        StructField("contained", IntegerType()),  # 1 = tile fully inside feature
    ]
)


def feature_tile_keys(features: DataFrame, layout: LayoutDefinition) -> DataFrame:
    """(feature_index, geojson) -> candidate layout tile keys, the clipToGrid
    analog (FileLayerProvider.scala:1060-1093). Pure key metadata — no pixels
    touched — so downstream joins prune cube partitions before any decode
    (the reference's 'required keys before read' pushdown, SURVEY §4)."""

    def block_keys(g, c0: int, c1: int, r0: int, r1: int, out: list) -> None:
        """Quadtree subdivision over the key grid: one classify per block, so
        a feature covering K tiles costs O(perimeter + log K) classifies
        instead of K (the compact-cover idea applied to layout keys)."""
        w0 = layout.extent_for_key(c0, r0)
        w1 = layout.extent_for_key(c1, r1)
        block = type(w0)(w0.xmin, w1.ymin, w1.xmax, w0.ymax)
        cls = classify_rect(g, block)
        if cls == 0:
            return
        if cls == 2:
            out.append((c0, c1, r0, r1, 1))
            return
        if c0 == c1 and r0 == r1:
            out.append((c0, c1, r0, r1, 0))
            return
        cm = (c0 + c1) // 2
        rm = (r0 + r1) // 2
        for cc0, cc1 in ((c0, cm), (cm + 1, c1)) if c1 > c0 else ((c0, c1),):
            for rr0, rr1 in ((r0, rm), (rm + 1, r1)) if r1 > r0 else ((r0, r1),):
                block_keys(g, cc0, cc1, rr0, rr1, out)

    # stage 1: split each feature's key range into <=4x4 sub-ranges so huge
    # features parallelize across tasks (one-task-per-feature was the serial
    # bottleneck; same idea as cover_cells_for_features)
    def split(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fi, gj in zip(pdf["feature_index"], pdf["geojson"]):
                g = parse_feature(gj)
                if g is None:
                    continue
                if g.kind in ("Point", "MultiPoint"):
                    rows.append((int(fi), gj, -1, -1, -1, -1))
                    continue
                ks = list(layout.keys_for_extent(g.bbox()))
                if not ks:
                    continue
                c0 = min(k[0] for k in ks); c1 = max(k[0] for k in ks)
                r0 = min(k[1] for k in ks); r1 = max(k[1] for k in ks)
                nsc = min(4, c1 - c0 + 1)
                nsr = min(4, r1 - r0 + 1)
                cw = -(-(c1 - c0 + 1) // nsc)
                rw = -(-(r1 - r0 + 1) // nsr)
                for sc in range(nsc):
                    for sr in range(nsr):
                        bc0 = c0 + sc * cw
                        br0 = r0 + sr * rw
                        if bc0 > c1 or br0 > r1:
                            continue
                        rows.append(
                            (int(fi), gj, bc0, min(bc0 + cw - 1, c1),
                             br0, min(br0 + rw - 1, r1))
                        )
            yield pd.DataFrame(
                rows, columns=["feature_index", "geojson", "c0", "c1", "r0", "r1"]
            )

    exploded = features.mapInPandas(
        split,
        schema="feature_index int, geojson string, c0 int, c1 int, r0 int, r1 int",
    )

    def keys(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fis, cols, rows_, conts = [], [], [], []
            for fi, gj, c0, c1, r0, r1 in zip(
                pdf["feature_index"], pdf["geojson"],
                pdf["c0"], pdf["c1"], pdf["r0"], pdf["r1"],
            ):
                g = parse_feature(gj)
                if g.kind in ("Point", "MultiPoint"):
                    seen = set()
                    for px_, py_ in g.points:
                        k = layout.key_for_point(px_, py_)
                        if (
                            k not in seen
                            and 0 <= k[0] < layout.layout_cols
                            and 0 <= k[1] < layout.layout_rows
                        ):
                            seen.add(k)
                            fis.append(int(fi)); cols.append(k[0])
                            rows_.append(k[1]); conts.append(0)
                    continue
                blocks: list[tuple[int, int, int, int, int]] = []
                block_keys(g, int(c0), int(c1), int(r0), int(r1), blocks)
                for bc0, bc1, br0, br1, cont in blocks:
                    cc, rr = np.meshgrid(
                        np.arange(bc0, bc1 + 1), np.arange(br0, br1 + 1)
                    )
                    n = cc.size
                    fis.extend([int(fi)] * n)
                    cols.extend(cc.ravel().tolist())
                    rows_.extend(rr.ravel().tolist())
                    conts.extend([cont] * n)
            yield pd.DataFrame(
                {"feature_index": fis, "col": cols, "row": rows_, "contained": conts}
            )

    return exploded.mapInPandas(keys, schema=_KEYS_SCHEMA)


def feature_key_bounds(features: DataFrame, layout: LayoutDefinition) -> DataFrame:
    """:func:`feature_tile_keys` with each feature's inclusive key bounds
    (``_fc0``, ``_fc1``, ``_fr0``, ``_fr1``) on every row. The bounds come
    from the feature's FULL key cover, not from the cube tiles that survive
    a join: a dropped all-nodata tile must stay a nodata hole, so every
    per-feature sample shares one shape and extent."""
    fkeys = feature_tile_keys(features, layout)
    bounds = fkeys.groupBy("feature_index").agg(
        F.min("col").alias("_fc0"), F.max("col").alias("_fc1"),
        F.min("row").alias("_fr0"), F.max("row").alias("_fr1"),
    )
    return fkeys.join(F.broadcast(bounds), "feature_index")


@functools.lru_cache(maxsize=4096)
def parse_feature(text: str) -> Geometry | None:
    """:func:`core.geom.parse_geometry` of one feature's text, once per
    distinct text per Python worker: the cache lives in the worker process,
    so it outlasts the tasks (and the UDF closure copies) it serves."""
    return parse_geometry(text)


class FeatureGeoms:
    """Picklable ``feature_index -> Geometry`` lookup. It ships the feature
    text only; a worker parses each feature the first time it is asked for
    it."""

    def __init__(self, texts: dict[int, str]):
        self.texts = texts

    def __getitem__(self, fi) -> Geometry:
        return parse_feature(self.texts[int(fi)])


def feature_geoms(features: DataFrame) -> FeatureGeoms:
    """Collect the feature table to the driver once, for UDF closures. The
    features of the polygon operators are broadcast-small by contract;
    closing over them keeps the polygon text off every (tile x feature)
    row of the Arrow stream."""
    return FeatureGeoms(
        {
            int(r["feature_index"]): r["geojson"]
            for r in features.select("feature_index", "geojson").collect()
        }
    )


def tile_mask(geom: Geometry, layout: LayoutDefinition, col: int, row: int) -> np.ndarray:
    """(tile_rows, tile_cols) bool pixel mask of ``geom`` on tile (col, row).
    A polygon takes the pixels whose centres it contains; a Point or
    MultiPoint takes the pixel that contains each point (the reference's
    RasterizeRDD defaults)."""
    xs, ys = layout.pixel_centers_for_key(col, row)
    if geom.kind not in ("Point", "MultiPoint"):
        return rasterize(geom, xs, ys)
    mask = np.zeros((layout.tile_rows, layout.tile_cols), dtype=bool)
    cw, ch = layout.cell_width, layout.cell_height
    for x, y in geom.points:
        if layout.key_for_point(x, y) == (col, row):
            ix = int((x - xs[0] + cw / 2) // cw)
            iy = int((ys[0] - y + ch / 2) // ch)
            if 0 <= iy < layout.tile_rows and 0 <= ix < layout.tile_cols:
                mask[iy, ix] = True
    return mask
