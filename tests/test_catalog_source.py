"""Catalog load_collection (FileLayerProvider analog): pushdown, footprint
key derivation, mask semi-join, overlap resolution; sampled feature scan;
date processes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.grid import Extent, LayoutDefinition
from openeo_geotrellis_extensions_spark.core.tiles import decode_tile_float
from openeo_geotrellis_extensions_spark.functions.process_compiler import (
    compile_process_graph,
)
from openeo_geotrellis_extensions_spark.sources.catalog import (
    fixed_features_catalog,
    load_collection,
    product_tile_values,
    sampled_features,
    synth_catalog,
)

LAYOUT = LayoutDefinition(Extent(-180.0, -90.0, 180.0, 90.0), 36, 18, 8, 8)
BBOX = Extent(-30.0, -20.0, 30.0, 20.0)


@pytest.fixture(scope="module")
def catalog(spark):
    return synth_catalog(spark, 64).cache()


def test_load_collection_keys_within_bbox(spark, catalog):
    cube = load_collection(catalog, LAYOUT, BBOX, n_bands=1)
    rows = cube.df.collect()
    assert len(rows) > 0
    for r in rows:
        e = LAYOUT.extent_for_key(r.col, r.row)
        assert e.intersects(BBOX)


@pytest.mark.parametrize("strategy", ["per_key", "per_product"])
def test_load_collection_rejects_non_square_tiles(catalog, strategy):
    """Products are read in square tiles; a 8x4 layout must fail up front
    and name the remedy instead of writing tiles that do not match the
    cube's tile shape."""
    layout = LayoutDefinition(Extent(-180.0, -90.0, 180.0, 90.0), 36, 18, 8, 4)
    with pytest.raises(ValueError, match="retile"):
        load_collection(catalog, layout, BBOX, n_bands=1, strategy=strategy)


def test_load_collection_pixels_match_resolver(spark, catalog):
    """Each tile equals the paint-order merge of its products' reads."""
    cube = load_collection(catalog, LAYOUT, BBOX, n_bands=1)
    samp = sampled_features(catalog, LAYOUT, BBOX)
    prods = {}
    for r in samp.collect():
        prods.setdefault((r.date, r.col, r.row), []).append(r.product_index)
    checked = 0
    for r in cube.df.limit(10).collect():
        key = (r.time.strftime("%Y-%m-%d"), r.col, r.row)
        plist = sorted(prods[key])
        acc = np.full((8, 8), 255, dtype=np.uint8)
        for p in plist:
            t = product_tile_values(p, r.col, r.row, 0, 8)
            fill = acc == 255
            acc[fill] = t[fill]
        got = decode_tile_float(list(r.bands), cube.meta.cell_type, (8, 8))[0]
        exp = acc.astype(np.float64)
        exp[acc == 255] = np.nan
        np.testing.assert_array_equal(np.isnan(got), np.isnan(exp))
        np.testing.assert_array_equal(got[~np.isnan(got)], exp[~np.isnan(exp)])
        checked += 1
    assert checked > 0


def test_load_collection_time_pushdown(spark, catalog):
    cube = load_collection(catalog, LAYOUT, BBOX, time_range=("2017-01-01", "2017-02-01"))
    dates = {r.time.strftime("%Y-%m-%d") for r in cube.df.select("time").distinct().collect()}
    assert dates <= {"2017-01-01", "2017-01-15"}


def test_load_collection_mask_pushdown(spark, catalog):
    full = load_collection(catalog, LAYOUT, BBOX, n_bands=1)
    keys = full.df.select("col", "row").distinct().collect()
    keep = spark.createDataFrame([(k.col, k.row) for k in keys[:3]], ["col", "row"])
    masked = load_collection(catalog, LAYOUT, BBOX, n_bands=1, mask_keys=keep)
    got = {(r.col, r.row) for r in masked.df.select("col", "row").distinct().collect()}
    assert got <= {(k.col, k.row) for k in keys[:3]}


def test_fixed_features_catalog(spark):
    cat = fixed_features_catalog(
        spark,
        [
            {"product_id": "a", "date": "2017-01-01", "bbox": [0, 0, 20, 10]},
            {"product_id": "b", "date": "2017-01-15", "bbox": [5, 5, 25, 15]},
        ],
    )
    cube = load_collection(cat, LAYOUT, Extent(0.0, 0.0, 30.0, 20.0), n_bands=1)
    assert cube.df.count() > 0
    dates = {r.time.strftime("%Y-%m-%d") for r in cube.df.select("time").distinct().collect()}
    assert dates == {"2017-01-01", "2017-01-15"}


def test_sampled_features_no_pixels(spark, catalog):
    samp = sampled_features(catalog, LAYOUT, BBOX)
    assert "bands" not in samp.columns
    assert samp.count() > 0
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "read_group" not in plan  # no pixel read stage


# -- date processes -----------------------------------------------------------

def g1(pid, **args):
    return {"n": {"process_id": pid, "arguments": args, "result": True}}


def test_date_processes():
    c = compile_process_graph(g1("date_difference", date1="2020-01-01", date2="2020-01-31", unit="day"))
    assert c.fn({}) == 30.0
    c = compile_process_graph(g1("date_shift", date="2020-01-31", value=1, unit="month"))
    assert c.fn({}).startswith("2020-02-29")
    c = compile_process_graph(g1("date_between", x="2020-06-01", min="2020-01-01", max="2021-01-01"))
    assert c.fn({}) == 1.0
    c = compile_process_graph(
        g1("date_replace_component", date="2020-06-15", value=2021, component="year")
    )
    assert c.fn({}).startswith("2021-06-15")


def test_load_collection_no_driver_side_key_table(spark):
    """The requested-bbox key restriction must be Column predicates, not a
    materialized key list: the plan contains no LocalTableScan/scan of an
    in-memory key relation feeding the footprint-key join."""
    import __spark_entry__ as m
    from openeo_geotrellis_extensions_spark.sources.catalog import (
        load_collection,
        synth_catalog,
    )

    cat = synth_catalog(spark, 16)
    cube = load_collection(cat, m.CATALOG_LAYOUT, m.CATALOG_BBOX, n_bands=1)
    plan = cube.df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan


def test_per_product_strategy_matches_per_key(spark):
    """Both read strategies (rasterRegionsToTiles vs
    ...LoadPerProductStrategy) must produce identical cubes."""
    import __spark_entry__ as m
    from openeo_geotrellis_extensions_spark.sources.catalog import (
        load_collection,
        synth_catalog,
    )

    cat = synth_catalog(spark, 32)
    a = load_collection(cat, m.CATALOG_LAYOUT, m.CATALOG_BBOX, n_bands=2)
    b = load_collection(
        cat, m.CATALOG_LAYOUT, m.CATALOG_BBOX, n_bands=2, strategy="per_product"
    )
    rows_a = {
        (str(r.time), r.col, r.row): [bytes(x) for x in r.bands]
        for r in a.df.collect()
    }
    rows_b = {
        (str(r.time), r.col, r.row): [bytes(x) for x in r.bands]
        for r in b.df.collect()
    }
    assert rows_a == rows_b and rows_a
