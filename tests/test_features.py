"""operators.features: the one place where polygon features meet the tile
grid — key cover, the per-worker geometry lookup and the pixel rule that
aggregate_spatial, mask_polygon, chunk_polygon and rasterize share."""

import ast
import json
import pathlib
import pickle

import numpy as np
import pytest

import openeo_geotrellis_extensions_spark as pkg
from openeo_geotrellis_extensions_spark.core.geom import (
    is_rect,
    parse_geometry,
    rasterize,
)
from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tile_float
from openeo_geotrellis_extensions_spark.operators.cloud import chunk_polygon
from openeo_geotrellis_extensions_spark.operators.features import (
    FeatureGeoms,
    tile_mask,
)
from openeo_geotrellis_extensions_spark.operators.mask import mask_polygon
from openeo_geotrellis_extensions_spark.operators.rasterize import rasterize_features
from openeo_geotrellis_extensions_spark.operators.zonal import aggregate_spatial
from openeo_geotrellis_extensions_spark.sources.datacube import arithmetic_cube
from openeo_geotrellis_extensions_spark.sources.interleaved import DATES

# 4x4 tiles of 16x16 px over a 4x4 degree box: 64x64 pixels of 1/16 degree
LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 4.0, 4.0), 4, 4, 16, 16)
SHAPE = (16, 16)
# off every pixel centre: x = 1.3 -> col 1, px 4; y = 2.7 -> row 1, py 4
POINT = json.dumps({"type": "Point", "coordinates": [1.3, 2.7]})
SQUARE = json.dumps({"type": "Polygon", "coordinates":
                     [[[0.9, 0.9], [3.1, 0.9], [3.1, 3.1], [0.9, 3.1], [0.9, 0.9]]]})


def _pixel_of(value: float) -> tuple[int, int, int, int]:
    gy, gx = divmod(int(value), 64)
    return gx // 16, gy // 16, gy % 16, gx % 16


def _valid_pixels(cube) -> set:
    """(col, row, py, px) of every non-nodata pixel of band 0."""
    out = set()
    for r in cube.df.collect():
        arr = decode_tile_float(list(r.bands), cube.meta.cell_type, SHAPE)[0]
        out |= {(r.col, r.row, int(y), int(x)) for y, x in zip(*np.nonzero(~np.isnan(arr)))}
    return out


def test_point_feature_picks_the_same_pixel_in_every_operator(spark):
    """A point takes the pixel that contains it, in all four polygon
    operators (aggregate_spatial already did; the others matched only a
    pixel centre equal to the point, so they kept nothing)."""

    def _pixel_id(d, b, c, r, py, px):
        """Every pixel gets its own value: the global pixel index (a nested
        function, so it pickles by value to the Python workers)."""
        return ((r * 16 + py) * 64 + c * 16 + px).astype(np.float64)

    cube = arithmetic_cube(spark, LAYOUT, dates=DATES[:1], value_fn=_pixel_id)
    feats = spark.createDataFrame([(0, POINT, 7.0)], ["feature_index", "geojson", "value"])
    expected = {(1, 1, 4, 4)}

    (z,) = [r for r in aggregate_spatial(cube, feats).collect() if r.band == 0]
    assert z["count"] == 1
    assert {_pixel_of(z.mean)} == expected

    assert _valid_pixels(mask_polygon(cube, feats)) == expected
    assert _valid_pixels(chunk_polygon(cube, feats, lambda s, fi: s)) == expected
    burned = rasterize_features(feats, LAYOUT, value_col="value")
    assert _valid_pixels(burned) == expected


def test_tile_mask_polygon_is_pixel_centre_rule():
    g = parse_geometry(SQUARE)
    for c, r in ((0, 2), (1, 1), (3, 3)):
        xs, ys = LAYOUT.pixel_centers_for_key(c, r)
        np.testing.assert_array_equal(tile_mask(g, LAYOUT, c, r), rasterize(g, xs, ys))


def test_tile_mask_multipoint_only_on_its_own_tiles():
    g = parse_geometry(json.dumps(
        {"type": "MultiPoint", "coordinates": [[1.3, 2.7], [1.31, 2.71], [3.99, 0.01]]}
    ))
    m = tile_mask(g, LAYOUT, 1, 1)
    assert list(zip(*np.nonzero(m))) == [(4, 4)]  # two points, one pixel
    m = tile_mask(g, LAYOUT, 3, 3)
    assert list(zip(*np.nonzero(m))) == [(15, 15)]
    assert not tile_mask(g, LAYOUT, 0, 0).any()


def test_feature_geoms_pickles_text_and_parses_lazily():
    geoms = FeatureGeoms({0: POINT, 5: SQUARE})
    back = pickle.loads(pickle.dumps(geoms))
    assert back.texts == geoms.texts
    assert back[np.int32(5)].kind == "Polygon"
    assert back[5] is geoms[5]  # one parse per text per process
    with pytest.raises(KeyError):
        back[1]


def test_is_rect():
    assert is_rect(parse_geometry(SQUARE))
    tri = parse_geometry(json.dumps(
        {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [0, 1], [0, 0]]]}
    ))
    assert not is_rect(tri)


def test_only_features_module_collects_features_or_rasterizes():
    """Under operators/, sinks/ and sources/, only operators/features.py
    collects the (feature_index, geojson) table to the driver or imports the
    pixel-centre rasterizer of core.geom."""
    root = pathlib.Path(pkg.__file__).parent
    driver_calls = {"collect", "toPandas", "toLocalIterator", "take", "head", "first"}
    offenders = []
    for sub in ("operators", "sinks", "sources"):
        for path in sorted((root / sub).rglob("*.py")):
            if path == root / "operators" / "features.py":
                continue
            for node in ast.walk(ast.parse(path.read_text())):
                where = f"{path.relative_to(root)}:{getattr(node, 'lineno', 0)}"
                if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("geom"):
                    offenders += [f"{where} imports rasterize"
                                  for a in node.names if a.name == "rasterize"]
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in driver_calls
                    and any(
                        isinstance(n, ast.Constant) and n.value == "geojson"
                        for n in ast.walk(node.func.value)
                    )
                ):
                    offenders.append(f"{where} collects geojson")
    assert offenders == []
