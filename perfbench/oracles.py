"""Independent recomputation of every workload's expected output.

- geo_ingest: DuckDB over the closed-form document arithmetic
  (``doc_attr_sql``) gives the joined rows per feature.
- zonal_batch: DuckDB enumerates the media tiles the documents reference,
  then the per-pixel formula of the synthetic tiles gives count and sum per
  (date, feature, band) for pixel centres inside each rect.
- zonal_sync: numpy over the catalog arithmetic (footprints, paint order,
  per-product pixel formula) gives count and sum per (date, feature, band).
- text_dedup: DuckDB hashes the word 3-grams exactly as the engine does
  (md5 MinHash, md5 band buckets), exact Jaccard in Python, union-find for
  the components.

None of these call the engine's operators; they share only the definition
of the synthetic inputs.
"""

from __future__ import annotations

import re
from fractions import Fraction

import numpy as np

from inputs import CATALOG_LAYOUT, DATES, N_PRODUCTS, product_footprint

# media tile layout (sources.interleaved.media_layout(16)): 512 x 256 tiles
_MEDIA_TILE = 360.0 / 512
_MEDIA_PX = 16


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _features_sql(rects) -> str:
    return " UNION ALL ".join(
        f"SELECT {fi} AS fi, CAST({x0!r} AS DOUBLE) AS x0, CAST({y0!r} AS DOUBLE) AS y0, "
        f"CAST({x1!r} AS DOUBLE) AS x1, CAST({y1!r} AS DOUBLE) AS y1"
        for fi, x0, y0, x1, y1 in rects
    )


def joined_rows(n_docs: int, rects) -> dict[int, int]:
    """feature_index -> number of geometry spans whose representative point
    lies strictly inside the rect."""
    from openeo_geotrellis_extensions_spark.sources.interleaved import doc_attr_sql

    a = doc_attr_sql("id")
    sql = f"""
        WITH geo AS (
            SELECT {a['lon']} AS x, {a['lat']} AS y
            FROM range({n_docs}) t(id), range(5) s(j)
            WHERE j < 2 + id % 4 AND (id + j) % 3 < 2 AND (j <= 1 OR (id + j) % 2 = 0)
        ), f AS ({_features_sql(rects)})
        SELECT f.fi, count(*) FROM geo JOIN f
          ON geo.x > f.x0 AND geo.x < f.x1 AND geo.y > f.y0 AND geo.y < f.y1
        GROUP BY f.fi
    """
    got = dict(_duck().execute(sql).fetchall())
    return {fi: int(got.get(fi, 0)) for fi, *_ in rects}


def media_tiles(n_docs: int) -> list[tuple[int, int, int, int]]:
    """Distinct (date_index, col, row, band) media tiles the docs reference."""
    from openeo_geotrellis_extensions_spark.sources.interleaved import doc_attr_sql

    a = doc_attr_sql("id")
    sql = f"""
        SELECT DISTINCT CAST((id + j) % 4 AS INT), CAST({a['tile_col']} AS INT),
               CAST({a['tile_row']} AS INT), CAST(j % 2 AS INT)
        FROM range({n_docs}) t(id), range(5) s(j)
        WHERE j < 2 + id % 4 AND (id + j) % 3 >= 2
    """
    return _duck().execute(sql).fetchall()


def media_zonal(n_docs: int, rects) -> dict[tuple[str, int, int], tuple[int, float]]:
    """(date, feature, band) -> (valid pixel count, sum of 2 * v + 1) over the
    media tiles, for every date any tile has (dense, like the engine)."""
    tiles = media_tiles(n_docs)
    out: dict[tuple[str, int, int], tuple[int, float]] = {}
    dates = sorted({DATES[d] for d, *_ in tiles})
    for date in dates:
        for fi, *_ in rects:
            for b in (0, 1):
                out[(date, fi, b)] = (0, 0.0)
    if not tiles:
        return out
    t = np.asarray(tiles, dtype=np.int64)
    d, c, r, b = t[:, 0], t[:, 1], t[:, 2], t[:, 3]
    px = np.arange(_MEDIA_PX)
    cw = _MEDIA_TILE / _MEDIA_PX
    for fi, x0, y0, x1, y1 in rects:
        tx0 = -180.0 + c * _MEDIA_TILE
        ty1 = 90.0 - r * _MEDIA_TILE
        near = (tx0 < x1) & (tx0 + _MEDIA_TILE > x0) & (ty1 - _MEDIA_TILE < y1) & (ty1 > y0)
        for k in np.nonzero(near)[0]:
            xs = tx0[k] + (px + 0.5) * cw
            ys = ty1[k] - (px + 0.5) * cw
            inside = ((ys > y0) & (ys < y1))[:, None] & ((xs > x0) & (xs < x1))[None, :]
            v = (c[k] * 31 + r[k] * 17 + d[k] * 11 + b[k] * 7 + px[:, None] * 5 + px[None, :] * 3) % 100
            valid = inside & ((c[k] + r[k] + px[:, None] + px[None, :]) % 23 != 0)
            key = (DATES[d[k]], fi, int(b[k]))
            n0, s0 = out[key]
            out[key] = (n0 + int(valid.sum()), s0 + float((2 * v[valid] + 1).sum()))
    return out


def catalog_zonal(req) -> dict[tuple[str, int, int], tuple[int, float]]:
    """(date, feature, band) -> (valid pixel count, pixel sum) of one
    zonal_sync request: load_collection over the synthetic catalog, then
    pixel-centre zonal stats, dense over the dates the cube holds."""
    ex0, ey0, ex1, ey1, ncols, nrows, tpx, _ = CATALOG_LAYOUT
    tw = (ex1 - ex0) / ncols
    cw = tw / tpx
    bx0, by0, bx1, by1 = req.bbox
    lo, hi = req.time_range
    prods = []
    for p in range(N_PRODUCTS):
        fx0, fy0, fx1, fy1, date = product_footprint(p)
        if fx0 < bx1 and fx1 > bx0 and fy0 < by1 and fy1 > by0 and lo <= date < hi:
            prods.append((p, fx0, fy0, fx1, fy1, date))
    px = np.arange(tpx)
    pyy, pxx = px[:, None], px[None, :]
    tiles: dict[tuple[str, int, int], list[np.ndarray]] = {}
    for row in range(nrows):
        ty1 = ey1 - row * tw
        if not (ty1 - tw < by1 and ty1 > by0):
            continue
        for col in range(ncols):
            tx0 = ex0 + col * tw
            if not (tx0 < bx1 and tx0 + tw > bx0):
                continue
            for date in sorted({pr[5] for pr in prods}):
                acc = [np.full((tpx, tpx), -1, dtype=np.int64) for _ in range(2)]
                for p, fx0, fy0, fx1, fy1, pdate in sorted(prods):
                    if pdate != date or not (
                        fx0 < tx0 + tw and fx1 > tx0 and fy0 < ty1 and fy1 > ty1 - tw
                    ):
                        continue
                    nodata = (p + pxx + pyy) % 19 == 0
                    for band in (0, 1):
                        v = (p * 7 + col * 13 + row * 17 + band * 5 + pyy * 3 + pxx) % 83
                        fill = (acc[band] < 0) & ~nodata
                        acc[band][fill] = v[fill]
                if any((a >= 0).any() for a in acc):
                    tiles[(date, col, row)] = acc
    out: dict[tuple[str, int, int], tuple[int, float]] = {}
    for date in sorted({k[0] for k in tiles}):
        for fi, *_ in req.polygons:
            for band in (0, 1):
                out[(date, fi, band)] = (0, 0.0)
    for (date, col, row), acc in tiles.items():
        xs = ex0 + col * tw + (px + 0.5) * cw
        ys = ey1 - row * tw - (px + 0.5) * cw
        for fi, x0, y0, x1, y1 in req.polygons:
            inside = ((ys > y0) & (ys < y1))[:, None] & ((xs > x0) & (xs < x1))[None, :]
            for band in (0, 1):
                sel = inside & (acc[band] >= 0)
                n0, s0 = out[(date, fi, band)]
                out[(date, fi, band)] = (n0 + int(sel.sum()), s0 + float(acc[band][sel].sum()))
    return out


def _norm_words(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ")


def dedup_components(rows, num_hashes=16, bands=4, n=3, threshold=0.5) -> dict[int, int]:
    """doc_id -> component (min doc_id) for every doc in a verified pair."""
    grams: dict[int, set[str]] = {}
    for doc_id, text, *_ in rows:
        w = _norm_words(text)
        if len(w) >= n:
            grams[doc_id] = {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    import pyarrow as pa

    con = _duck()
    ids = [i for i, gs in grams.items() for _ in gs]
    vals = [s for gs in grams.values() for s in gs]
    con.register("g_arrow", pa.table({"id": pa.array(ids, pa.int64()), "ngram": vals}))
    mins = ", ".join(f"min(md5('{i}|' || ngram)) AS m{i}" for i in range(num_hashes))
    rows_per = num_hashes // bands
    buckets = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"m{b * rows_per + r}" for r in range(rows_per))
        + f")) AS bucket FROM sig"
        for b in range(bands)
    )
    cand = con.execute(
        f"""
        WITH sig AS (SELECT id, {mins} FROM g_arrow GROUP BY id),
        bk AS ({buckets})
        SELECT DISTINCT a.id, b.id FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        """
    ).fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    half = Fraction(threshold)
    for a, b in cand:
        ga, gb = grams[a], grams[b]
        inter = len(ga & gb)
        if inter and Fraction(inter, len(ga) + len(gb) - inter) >= half:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
