"""Interleaved-document table: determinism, span-sequence invariant,
geometry extraction, media-ref parsing (FIXTURES.md F1)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openeo_geotrellis_extensions_spark.core.tiles import EMPTY, decode_band
from openeo_geotrellis_extensions_spark.sources.datacube import media_cube
from openeo_geotrellis_extensions_spark.sources.interleaved import (
    DATES,
    MEDIA_CELL_TYPE,
    doc_attr_sql,
    explode_spans,
    extract_geometries,
    media_layout,
    media_tile_values,
    parse_tile_ref,
    reassemble_fingerprints,
    span_fingerprints,
    synth_docs,
)

N = 200


@pytest.fixture(scope="module")
def docs(spark):
    return synth_docs(spark, N).cache()


def test_row_count_and_ids(docs):
    assert docs.count() == N
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(3).collect()]
    assert ids == ["doc_00000000", "doc_00000001", "doc_00000002"]


def test_deterministic(spark, docs):
    a = span_fingerprints(docs).orderBy("doc_id").collect()
    b = span_fingerprints(synth_docs(spark, N)).orderBy("doc_id").collect()
    assert a == b


def test_offsets_strictly_increasing(docs):
    bad = docs.select(
        F.expr(
            "exists(sequence(1, size(spans) - 1), "
            "i -> spans[i].offset <= spans[i-1].offset)"
        ).alias("bad")
    ).where("bad").count()
    assert bad == 0


def test_span_kinds_consistent(docs):
    ex = explode_spans(docs)
    assert ex.where("kind = 'text' AND text IS NULL").count() == 0
    assert ex.where("kind = 'text' AND media_ref IS NOT NULL").count() == 0
    assert ex.where("kind = 'media' AND media_ref IS NULL").count() == 0
    assert ex.where("kind NOT IN ('text', 'media')").count() == 0


def test_every_doc_has_geometry(docs):
    geo = extract_geometries(docs)
    assert geo.select("doc_id").distinct().count() == N


def test_span_invariant_roundtrip(docs):
    """explode -> reassemble == original fingerprints (the per-row invariant)."""
    orig = span_fingerprints(docs)
    back = reassemble_fingerprints(explode_spans(docs))
    diff = orig.join(back, "doc_id").where(
        orig["span_fp"] != back["span_fp"]
    )
    assert diff.count() == 0
    assert back.count() == N


def test_hot_cell_skew(docs):
    geo = extract_geometries(docs).groupBy("doc_id").agg(
        F.first("xmin").alias("x"), F.first("ymin").alias("y")
    )
    hot = geo.where(
        (F.col("x") > 3.8) & (F.col("x") < 4.8)
        & (F.col("y") > 50.5) & (F.col("y") < 51.5)
    ).count()
    assert hot >= N / 5 * 0.9  # ~20% of docs in the hot cell


def test_doc_attr_sql_matches_extracted_geometry(spark, docs):
    """The closed-form arithmetic (used by DuckDB oracles) reproduces the
    bbox centers the engine parses out of the GeoJSON spans."""
    a = doc_attr_sql("CAST(substring(doc_id, 5) AS BIGINT)")
    expected = docs.selectExpr(
        "doc_id", f"round({a['lon']}, 4) AS lon", f"round({a['lat']}, 4) AS lat"
    )
    got = (
        extract_geometries(docs)
        .groupBy("doc_id")
        .agg(
            F.round((F.min("xmin") + F.max("xmax")) / 2, 4).alias("lon"),
            F.round((F.min("ymin") + F.max("ymax")) / 2, 4).alias("lat"),
        )
    )
    diff = expected.join(got, "doc_id").where(
        (expected["lon"] != got["lon"]) | (expected["lat"] != got["lat"])
    )
    assert diff.count() == 0
    assert got.count() == N


def test_media_ref_parse_and_values(docs):
    refs = explode_spans(docs).where("kind = 'media'").limit(5).collect()
    assert len(refs) > 0
    for r in refs:
        z, c, rr, date, b = parse_tile_ref(r.media_ref)
        assert z == 8
        assert date in DATES
        assert b in (0, 1)
        ld = media_layout(16)
        assert 0 <= c < ld.layout_cols
        assert 0 <= rr < ld.layout_rows
    t = media_tile_values(3, 5, 1, 0, 16)
    assert t.shape == (16, 16)
    assert t.dtype == np.uint8
    # deterministic formula check at a pixel
    assert t[0, 0] in (np.uint8((3 * 31 + 5 * 17 + 11) % 100), np.uint8(255))


def test_media_cube_bands_follow_doc_refs(docs):
    """Every media_cube row: a band some doc references decodes to
    media_tile_values; a band no doc references is EMPTY."""
    refs = {
        (c, rr, DATES.index(date), b)
        for c, rr, date, b in (
            parse_tile_ref(r.media_ref)[1:]
            for r in explode_spans(docs).where("kind = 'media'").collect()
        )
    }
    rows = media_cube(docs, tile_size=16).df.collect()
    assert {(r.col, r.row, DATES.index(r.time.strftime("%Y-%m-%d"))) for r in rows} == {
        k[:3] for k in refs
    }
    n_empty = 0
    for r in rows:
        d = DATES.index(r.time.strftime("%Y-%m-%d"))
        for b, buf in enumerate(r.bands):
            if (r.col, r.row, d, b) in refs:
                np.testing.assert_array_equal(
                    decode_band(buf, MEDIA_CELL_TYPE, (16, 16)),
                    media_tile_values(r.col, r.row, d, b, 16),
                )
            else:
                assert buf == EMPTY
                n_empty += 1
    assert n_empty > 0


def test_synth_is_pure_sql_plan(docs):
    """No Python UDFs in the synthesis plan — whole-stage codegen only."""
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
