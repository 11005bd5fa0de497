"""Seeded inputs of the four workloads.

Everything the program receives is generated here from the workload seed:
rect features for the spatial join, zonal polygons, catalog requests and
the text corpus. Coordinates are snapped to odd multiples of 0.00005
degrees, which never coincide with a document coordinate (multiples of
0.0001), a pixel centre or a tile edge of the layouts used, so
point-in-polygon answers never depend on boundary rules.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: (feature_index, xmin, ymin, xmax, ymax): the default spatial-join feature
#: set; feature 0 covers the hot cell. At 200k documents it joins 163201 rows.
DEFAULT_RECTS = [
    (0, 3.89995, 50.59995, 4.80005, 51.50005),
    (1, -50.00005, -30.00005, 30.00005, 40.00005),
    (2, 4.00005, 49.99995, 60.00005, 80.00005),
    (3, 170.00005, -80.00005, 171.00005, -79.00005),
]
DEFAULT_JOINED_ROWS_200K = 163201

#: dates of the synthetic acquisitions (sources.interleaved.DATES)
DATES = ["2017-01-01", "2017-01-15", "2017-02-01", "2018-01-15"]
#: exclusive upper end for a time range that includes the last date
DATE_END = "2019-01-01"

#: catalog layout of the zonal_sync requests: 36 x 18 tiles of 10 degrees,
#: 8 x 8 pixels (the layout the catalog queries of the package use)
CATALOG_LAYOUT = (-180.0, -90.0, 180.0, 90.0, 36, 18, 8, 8)
N_PRODUCTS = 64

#: openEO process graph applied per pixel in zonal_batch: 2 * x + 1
APPLY_GRAPH = {
    "m": {
        "process_id": "multiply",
        "arguments": {"x": {"from_parameter": "x"}, "y": 2},
    },
    "a": {
        "process_id": "add",
        "arguments": {"x": {"from_node": "m"}, "y": 1},
        "result": True,
    },
}


def snap(v: float) -> float:
    """Nearest odd multiple of 0.00005 (see module docstring)."""
    return (2 * round(v * 10000.0 - 0.5) + 1) / 20000.0


def rect(fi: int, x0: float, y0: float, w: float, h: float) -> tuple:
    return (fi, snap(x0), snap(y0), snap(x0 + w), snap(y0 + h))


def geo_features(rng: random.Random) -> list[tuple]:
    """The default feature set, each rect shifted by a seeded offset:
    feature 0 by under 0.1 degree, so it still covers the whole hot cell,
    the others by up to 1 degree."""
    out = []
    for fi, x0, y0, x1, y1 in DEFAULT_RECTS:
        r = 0.09 if fi == 0 else 1.0
        dx, dy = rng.uniform(-r, r), rng.uniform(-r, r)
        out.append((fi, snap(x0 + dx), snap(y0 + dy), snap(x1 + dx), snap(y1 + dy)))
    return out


def zonal_polygons(rng: random.Random, n_large: int = 3, n_small: int = 3) -> list[tuple]:
    """Half large rects (12 x 9 degrees: mostly tiles fully inside) and half
    small ones (0.4 x 0.3 degrees: boundary tiles only), at seeded places."""
    out = []
    for i in range(n_large):
        out.append(rect(i, rng.uniform(-170, 155), rng.uniform(-80, 70), 12.0, 9.0))
    for i in range(n_small):
        out.append(
            rect(n_large + i, rng.uniform(-170, 165), rng.uniform(-80, 75), 0.4, 0.3)
        )
    return out


def product_footprint(p: int) -> tuple[float, float, float, float, str]:
    """(xmin, ymin, xmax, ymax, date) of catalog product ``p`` — the closed
    form of sources.catalog.synth_catalog."""
    x0 = -180 + (p * 53) % 330
    y0 = -85 + (p * 29) % 150
    return float(x0), float(y0), float(x0 + 30), float(y0 + 20), DATES[p % 4]


@dataclass(frozen=True)
class SyncRequest:
    bbox: tuple[float, float, float, float]
    time_range: tuple[str, str]
    polygons: list


def sync_requests(rng: random.Random, n: int) -> list[SyncRequest]:
    """Small openEO-style requests: a 10 x 10 degree bbox inside a seeded
    product's footprint, a time range holding that product's date, and 1-4
    small rect polygons inside the bbox."""
    out = []
    for _ in range(n):
        p = rng.randrange(N_PRODUCTS)
        fx0, fy0, _, _, date = product_footprint(p)
        bx0 = snap(fx0 + rng.uniform(0.5, 19.5))
        by0 = snap(fy0 + rng.uniform(0.5, 9.5))
        bbox = (bx0, by0, snap(bx0 + 10.0), snap(by0 + 10.0))
        di = DATES.index(date)
        lo = DATES[rng.randint(0, di)]
        hi_opts = DATES[di + 1 :] + [DATE_END]
        hi = hi_opts[rng.randrange(len(hi_opts))]
        polys = []
        for fi in range(rng.randint(1, 4)):
            w, h = rng.uniform(1.5, 4.0), rng.uniform(1.5, 4.0)
            polys.append(
                rect(fi, bx0 + rng.uniform(0.1, 9.9 - w), by0 + rng.uniform(0.1, 9.9 - h), w, h)
            )
        out.append(SyncRequest(bbox, (lo, hi), polys))
    return out


_VOCAB = (
    "spark tile raster band pixel cube layer zonal polygon feature grid cell "
    "join shuffle stage task worker driver batch stream merge sort filter "
    "window index key value scan write commit bucket salt resume footprint "
    "catalog product date orbit cloud mask mean median sum count quantile "
    "extent layout zoom reproject resample kernel process graph apply reduce"
).split()


def corpus(rng: random.Random, n_docs: int) -> list[tuple[int, str, str, str, int]]:
    """(doc_id, text, lang, source, n_chars) rows of a documents table.
    About one doc in six is a near-duplicate of an earlier doc (a few word
    substitutions, sometimes a case or whitespace variant), so the MinHash
    LSH stage finds candidate pairs and connected groups."""
    texts: list[list[str]] = []
    rows = []
    for i in range(n_docs):
        if i >= 50 and rng.random() < 0.17:
            words = list(texts[rng.randrange(i)])
            for _ in range(rng.randint(0, max(1, len(words) // 6))):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(6, 90))]
        texts.append(words)
        text = " ".join(words)
        if rng.random() < 0.1:
            text = "  " + text.upper().replace(" ", "   ") + " "
        rows.append((i, text, rng.choice(["en", "de", "fr"]), f"src{i % 7}", len(text)))
    return rows
