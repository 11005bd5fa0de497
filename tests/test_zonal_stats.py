"""aggregate_spatial vs reference-fixture expectations and a numpy oracle.

Mirrors AggregateSpatialTest.scala:199-227 (constant cube: mean=10, nodata
band -> NaN) and the histogram-oracle pattern at :135-197."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.geom import parse_geometry, rasterize
from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.operators.zonal import (
    aggregate_spatial,
    feature_tile_keys,
)
from openeo_geotrellis_extensions_spark.sources.datacube import (
    arithmetic_cube,
    constant_cube,
)
from openeo_geotrellis_extensions_spark.sources.interleaved import DATES

# 4x4 tiles of 16x16 px over a 4x4 degree box (small-scale per FIXTURES)
LAYOUT = LayoutDefinition(Extent(0.0, 0.0, 4.0, 4.0), 4, 4, 16, 16)

P_INSIDE = json.dumps({"type": "Polygon", "coordinates": [[[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5], [0.5, 0.5]]]})
P_SPANNING = json.dumps({"type": "Polygon", "coordinates": [[[0.9, 0.9], [3.1, 0.9], [3.1, 3.1], [0.9, 3.1], [0.9, 0.9]]]})
P_OUTSIDE = json.dumps({"type": "Polygon", "coordinates": [[[10.0, 10.0], [11.0, 10.0], [11.0, 11.0], [10.0, 11.0], [10.0, 10.0]]]})
P_POINT = json.dumps({"type": "Point", "coordinates": [1.05, 1.05]})

FEATURES = [(0, P_INSIDE), (1, P_SPANNING), (2, P_OUTSIDE), (3, P_POINT)]


@pytest.fixture(scope="module")
def features_df(spark):
    return spark.createDataFrame(FEATURES, ["feature_index", "geojson"])


def _rows_by_key(rows):
    return {(r.time.strftime("%Y-%m-%d"), r.feature_index, r.band): r for r in rows}


def test_constant_cube_stats(spark, features_df):
    """AggregateSpatialTest.scala:224-226: constant band -> mean 10.0,
    all-nodata band -> NaN; polygon outside extent -> NaN row present."""
    cube = constant_cube(spark, LAYOUT)  # band0=10, band1=nodata, uint8ud255
    out = aggregate_spatial(cube, features_df)
    rows = out.collect()
    assert len(rows) == len(DATES) * len(FEATURES) * 2  # dense
    by = _rows_by_key(rows)
    for d in DATES:
        r = by[(d, 0, 0)]
        assert r.mean == pytest.approx(10.0)
        assert r.min == 10 and r.max == 10
        # polygon fully inside: (1 deg)^2 at 16px/deg -> 256 pixels
        assert r["count"] == 256
        # nodata band: zero valid pixels, stats null
        r1 = by[(d, 0, 1)]
        assert r1["count"] == 0 and r1.mean is None
        # outside polygon: dense NaN row
        r2 = by[(d, 2, 0)]
        assert r2["count"] == 0 and r2.mean is None
        # point feature: exactly 1 pixel, value 10
        r3 = by[(d, 3, 0)]
        assert r3["count"] == 1 and r3.mean == pytest.approx(10.0)


def test_arithmetic_cube_matches_numpy_oracle(spark, features_df):
    cube = arithmetic_cube(spark, LAYOUT, n_bands=2)
    out = aggregate_spatial(cube, features_df)
    by = _rows_by_key(out.collect())

    # single-node oracle: regenerate every pixel and mask per feature
    h, w = 16, 16
    px = np.arange(w)[None, :]
    py = np.arange(h)[:, None]
    geoms = {fi: parse_geometry(gj) for fi, gj in FEATURES}
    for fi, g in geoms.items():
        if g.kind == "Point":
            continue
        for d_idx, d in enumerate(DATES):
            for b in range(2):
                vals = []
                for c in range(4):
                    for r in range(4):
                        xs, ys = LAYOUT.pixel_centers_for_key(c, r)
                        mask = rasterize(g, xs, ys)
                        if not mask.any():
                            continue
                        v = (px * 3 + py * 5 + c * 13 + r * 7 + d_idx * 11 + b * 17) % 97
                        v = v.astype(np.float64)
                        v[(px + py + c + r + d_idx) % 13 == 0] = np.nan
                        vals.append(v[mask])
                allv = np.concatenate(vals) if vals else np.array([])
                allv = allv[~np.isnan(allv)]
                row = by[(d, fi, b)]
                if allv.size == 0:
                    assert row["count"] == 0
                    continue
                assert row["count"] == allv.size
                assert row.mean == pytest.approx(allv.mean(), rel=1e-9)
                assert row.min == pytest.approx(allv.min())
                assert row.max == pytest.approx(allv.max())
                assert row.sum == pytest.approx(allv.sum(), rel=1e-9)
                if allv.size > 1:
                    assert row.variance == pytest.approx(allv.var(ddof=1), rel=1e-6)


def test_feature_tile_keys_prune(spark, features_df):
    keys = feature_tile_keys(features_df, LAYOUT).collect()
    ks = {(k.feature_index, k.col, k.row) for k in keys}
    # P_INSIDE only touches tiles (0,2),(1,2),(0,3),(1,3)
    f0 = {(c, r) for (fi, c, r) in ks if fi == 0}
    assert f0 == {(0, 2), (1, 2), (0, 3), (1, 3)}
    # P_OUTSIDE yields no keys
    assert not any(fi == 2 for (fi, _, _) in ks)


def test_zonal_plan_has_partial_agg_and_broadcast(spark, features_df):
    cube = constant_cube(spark, LAYOUT)
    out = aggregate_spatial(cube, features_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # feature keys broadcast, no shuffle join
    assert "HashAggregate" in plan  # partial+final agg native


def test_weighted_zonal_constant_cube_exact_areas(spark):
    """Area-weighted zonal on a constant cube: wmean equals the constant
    everywhere, and wcount * pixel_area equals the EXACT zone∩layout area
    (the defining property fractional weighting buys over the center
    rule) — for a rect zone and for a concave L-shape (the per-pixel
    Sutherland-Hodgman path)."""
    from openeo_geotrellis_extensions_spark.operators.zonal import (
        aggregate_spatial_weighted,
    )

    lshape = json.dumps(
        {
            "type": "Polygon",
            "coordinates": [[
                [0.53, 0.51], [2.47, 0.51], [2.47, 1.48],
                [1.52, 1.48], [1.52, 2.46], [0.53, 2.46], [0.53, 0.51],
            ]],
        }
    )
    feats = spark.createDataFrame(
        [(0, P_INSIDE), (1, lshape)], ["feature_index", "geojson"]
    )
    cube = constant_cube(spark, LAYOUT, band_values=[7.0])
    rows = _rows_by_key(aggregate_spatial_weighted(cube, feats).collect())
    px_area = (4.0 / 64) ** 2  # 0.0625^2
    # rect zone: exact area 1.0 x 1.0
    r0 = rows[(DATES[0], 0, 0)]
    assert r0.wmean == pytest.approx(7.0, abs=1e-9)
    assert r0.wcount * px_area == pytest.approx(1.0, abs=2e-6)
    # L-shape: area = 1.94*1.95 - 0.95*0.98 (outer minus notch)
    want = (2.47 - 0.53) * (2.46 - 0.51) - (2.47 - 1.52) * (2.46 - 1.48)
    r1 = rows[(DATES[0], 1, 0)]
    assert r1.wmean == pytest.approx(7.0, abs=1e-9)
    assert r1.wcount * px_area == pytest.approx(want, abs=2e-6)
    # P_INSIDE lies exactly on pixel boundaries -> weighted == center count;
    # the L-shape has fractional edge pixels, so the counts MUST differ
    center = _rows_by_key(
        aggregate_spatial(
            cube, spark.createDataFrame([(1, lshape)], ["feature_index", "geojson"])
        ).collect()
    )[(DATES[0], 1, 0)]
    assert abs(r1.wcount - center["count"]) > 1e-6
    assert r1.wcount == pytest.approx(want / px_area, abs=2e-3)


def test_weighted_zonal_matches_per_pixel_bruteforce(spark):
    """wsum/wcount against a numpy brute force that clips every pixel of
    the value grid independently (arith cube, nodata respected)."""
    from openeo_geotrellis_extensions_spark.core.geom import clipped_area
    from openeo_geotrellis_extensions_spark.operators.zonal import (
        aggregate_spatial_weighted,
    )

    feats = spark.createDataFrame([(1, P_SPANNING)], ["feature_index", "geojson"])
    cube = arithmetic_cube(spark, LAYOUT, n_bands=1)
    got = _rows_by_key(aggregate_spatial_weighted(cube, feats).collect())
    g = parse_geometry(P_SPANNING)
    cw = 4.0 / 64
    for di, date in enumerate(DATES[:1]):
        qc = qs = 0
        for gy in range(64):
            for gx in range(64):
                e = Extent(gx * cw, 4.0 - (gy + 1) * cw, (gx + 1) * cw, 4.0 - gy * cw)
                a = clipped_area(g, e)
                if a <= 0:
                    continue
                wq = int(np.floor(a / (cw * cw) * 1e6 + 0.5))
                c, r, px, py = gx // 16, gy // 16, gx % 16, gy % 16
                if (px + py + c + r + di) % 13 == 0:
                    continue  # nodata
                v = (px * 3 + py * 5 + c * 13 + r * 7 + di * 11 + 0) % 97
                qc += wq
                qs += wq * v
        row = got[(date, 1, 0)]
        assert row.wcount == pytest.approx(qc / 1e6, abs=1e-9)
        assert row.wsum == pytest.approx(qs / 1e6, abs=1e-9)
        assert row.wmean == pytest.approx(qs / qc, abs=1e-9)


def test_scanline_cover_areas_matches_per_pixel_clip():
    """The r6 scanline weight grid (one row-band clip + vectorized
    Green's-theorem column integral) against the per-pixel
    Sutherland-Hodgman brute force it replaced: quantized micro-weights
    agree within 1 micro per pixel (the two are the same exact integral
    in different float evaluation orders), and the grid total equals the
    polygon's exact area. 64x64 tile per the r5 verdict's A/B ask."""
    from openeo_geotrellis_extensions_spark.core.geom import clipped_area
    from openeo_geotrellis_extensions_spark.operators.zonal import (
        _scanline_cover_areas,
    )

    h = w = 64
    te = Extent(0.0, 0.0, 4.0, 4.0)
    cw = ch = 4.0 / 64
    tri = json.dumps(
        {"type": "Polygon",
         "coordinates": [[[0.37, 0.21], [3.83, 1.03], [1.3, 3.77], [0.37, 0.21]]]}
    )
    lshape = json.dumps(
        {"type": "Polygon",
         "coordinates": [[[0.53, 0.51], [2.47, 0.51], [2.47, 1.48],
                          [1.52, 1.48], [1.52, 2.46], [0.53, 2.46],
                          [0.53, 0.51]]]}
    )
    holed = json.dumps(
        {"type": "Polygon",
         "coordinates": [
             [[0.4, 0.4], [3.6, 0.6], [3.4, 3.6], [0.6, 3.4], [0.4, 0.4]],
             [[1.2, 1.2], [2.8, 1.3], [2.6, 2.8], [1.3, 2.6], [1.2, 1.2]],
         ]}
    )
    for gj in (tri, lshape, holed):
        g = parse_geometry(gj)
        areas = _scanline_cover_areas(g, te, h, w, cw, ch)
        wq_new = np.floor(areas / (cw * ch) * 1e6 + 0.5).astype(np.int64)
        wq_old = np.zeros((h, w), dtype=np.int64)
        for iy in range(h):
            for ix in range(w):
                e = Extent(
                    ix * cw, 4.0 - (iy + 1) * ch, (ix + 1) * cw, 4.0 - iy * ch
                )
                a = clipped_area(g, e)
                if a > 0.0:
                    wq_old[iy, ix] = int(np.floor(a / (cw * ch) * 1e6 + 0.5))
        assert np.abs(wq_new - wq_old).max() <= 1, gj
        # exact area check: sum of fractional coverages == polygon area
        want = clipped_area(g, te)
        assert areas.sum() == pytest.approx(want, rel=1e-12), gj


def test_aggregate_spatial_accepts_spatial_only_cube(spark, features_df):
    """reduce_time -> aggregate_spatial: a spatial-only cube has no ``time``
    column, so the partials, the groupBy and the dense restore key on
    (feature, band) only — both the center-rule and the weighted variant."""
    from openeo_geotrellis_extensions_spark.operators.apply_process import reduce_time
    from openeo_geotrellis_extensions_spark.operators.zonal import (
        aggregate_spatial_weighted,
    )

    cube = reduce_time(constant_cube(spark, LAYOUT), "mean")
    assert not cube.meta.temporal
    out = aggregate_spatial(cube, features_df)
    assert "time" not in out.columns
    by = {(r.feature_index, r.band): r for r in out.collect()}
    assert len(by) == len(FEATURES) * 2  # dense over (feature, band)
    assert by[(0, 0)]["count"] == 256 and by[(0, 0)].mean == pytest.approx(10.0)
    assert by[(0, 1)]["count"] == 0 and by[(0, 1)].mean is None
    assert by[(2, 0)]["count"] == 0
    assert by[(3, 0)]["count"] == 1

    w = aggregate_spatial_weighted(cube, features_df)
    assert "time" not in w.columns
    wby = {(r.feature_index, r.band): r for r in w.collect()}
    assert len(wby) == len(FEATURES) * 2
    assert wby[(0, 0)].wmean == pytest.approx(10.0)
    assert wby[(0, 0)].wcount == pytest.approx(256.0, abs=1e-3)
    assert wby[(2, 0)].wcount == 0.0
