"""Seeded inputs for the benchmark workloads.

Everything the program sees is made here from the run's seed: the
source tables (lineitem, documents, embeddings), the polygon layer that
is uploaded as GeoJSON, and the request stream: FeatureServer queries
and map tiles along a webmap viewport walk. The same seed gives the
same inputs, byte for byte.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: about the sf0.01 shape of the repository's TPC-H-like
# tables (60k lineitem rows; 200 documents, 405 embeddings, the least
# the ANN entry's query ids need). Requests on these sizes are dominated
# by Spark's per-job cost, as at sf0.1, while a run still fits the
# benchmark's time budget.
N_LINEITEM = 60_000
N_DOCS = 200
N_EMB = 405
EMB_DIM = 64
N_RECTS = 2_000

_WORDS = (
    "scan filter join merge hash sort window group agg table column row "
    "value key part line order customer query stream batch spark data "
    "fast slow big small the a vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr", "ja"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.08, 0.04]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a draw to one
    stream never shifts another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


# ---------------------------------------------------------------------------
# source tables
# ---------------------------------------------------------------------------


def write_tables(sf_dir: str, seed: int, corpus: bool) -> None:
    """lineitem parquet in `sf_dir` and, with `corpus`, documents and
    embeddings, with the schemas `sources.tables.load_table` and the
    registry read."""
    os.makedirs(sf_dir, exist_ok=True)
    _write_lineitem(os.path.join(sf_dir, "lineitem.parquet"), seed)
    if corpus:
        _write_documents(os.path.join(sf_dir, "documents.parquet"), seed)
        _write_embeddings(os.path.join(sf_dir, "embeddings.parquet"), seed)


def _write_lineitem(path: str, seed: int) -> None:
    r = _rng(seed, "lineitem")
    n = N_LINEITEM
    price = np.round(r.uniform(900.0, 105_000.0, n), 2)
    ship = np.datetime64("1995-01-01") + r.integers(0, 2500, n).astype(
        "timedelta64[D]"
    )
    t = pa.table(
        {
            "l_orderkey": r.integers(0, n // 4, n, dtype=np.int64),
            "l_partkey": r.integers(0, n // 30, n, dtype=np.int64),
            "l_suppkey": r.integers(0, n // 600, n, dtype=np.int64),
            "l_linenumber": r.integers(1, 8, n, dtype=np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": price,
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    pq.write_table(t, path)


def _write_documents(path: str, seed: int) -> None:
    """Random-word documents with planted duplicates: the last 4% are
    exact copies and the 6% before them copies with one word replaced,
    of seeded earlier documents, so every dedup operator has pairs to
    find and every seed plants the same number."""
    r = _rng(seed, "documents")
    n_exact, n_near = N_DOCS * 4 // 100, N_DOCS * 6 // 100
    n_orig = N_DOCS - n_exact - n_near
    texts = [" ".join(np.array(_WORDS)[r.integers(0, len(_WORDS), int(r.integers(10, 90)))])
             for _ in range(n_orig)]
    for _ in range(n_near):
        words = texts[int(r.integers(0, n_orig))].split()
        words[int(r.integers(0, len(words)))] = _WORDS[int(r.integers(0, len(_WORDS)))]
        texts.append(" ".join(words))
    texts += [texts[int(r.integers(0, n_orig))] for _ in range(n_exact)]
    t = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": list(np.array(_LANGS)[r.choice(len(_LANGS), N_DOCS, p=_LANG_P)]),
            "source": [f"src{i % 5}" for i in range(N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    pq.write_table(t, path)


def _write_embeddings(path: str, seed: int) -> None:
    """64-d unit vectors around 10 label centroids."""
    r = _rng(seed, "embeddings")
    centers = r.normal(size=(10, EMB_DIM))
    labels = r.integers(0, 10, N_EMB).astype(np.int32)
    v = centers[labels] + 0.6 * r.normal(size=(N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t = pa.table(
        {
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )
    pq.write_table(t, path)


# ---------------------------------------------------------------------------
# GeoJSON uploads
# ---------------------------------------------------------------------------


def rect_features(r: np.random.Generator, n: int, id0: int = 0) -> list[dict]:
    """Axis-aligned rectangles 0.2-3 degrees wide. Corners are random
    doubles, so no lattice point of the point layers lies on an edge."""
    cx = r.uniform(-175.0, 175.0, n)
    cy = r.uniform(-80.0, 80.0, n)
    hw = r.uniform(0.1, 1.5, n)
    hh = r.uniform(0.1, 1.5, n)
    kinds = np.array(["park", "lake", "zone", "lot"])[r.integers(0, 4, n)]
    vals = np.round(r.uniform(0.0, 1000.0, n), 3)
    out = []
    for i in range(n):
        x0, y0, x1, y1 = cx[i] - hw[i], cy[i] - hh[i], cx[i] + hw[i], cy[i] + hh[i]
        out.append(
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
                    ],
                },
                "properties": {"id": id0 + i, "kind": str(kinds[i]), "value": float(vals[i])},
            }
        )
    return out


def write_geojson(path: str, features: list[dict]) -> int:
    """Write a FeatureCollection; returns the file size in bytes."""
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": features}, f)
    return os.path.getsize(path)


def rects_layer(seed: int) -> list[dict]:
    """The `rects_ingested` polygon layer."""
    return rect_features(_rng(seed, "rects"), N_RECTS)


# ---------------------------------------------------------------------------
# FeatureServer request stream
# ---------------------------------------------------------------------------


@dataclass
class Request:
    """One request: the target layer, the request's class and either the
    raw GeoServices params as a client sends them or, for a tile, its
    z/x/y."""

    layer: str
    kind: str
    params: dict
    # for an ids request: which returned ids its objectIds fetch asks for
    fetch_pick: list[int] = field(default_factory=list)


# Viewport sides in degrees. The point layer holds about one feature per
# square degree, so these range from a few features to past the point
# layer's maxRecordCount (10000); on rects_ingested, `continent` passes
# its maxRecordCount (500).
FEW, CITY, REGION, CONTINENT = (2.0, 4.0), (8.0, 15.0), (25.0, 40.0), (110.0, 140.0)
P, R = "points_persisted", "rects_ingested"

# The request schedule: one webmap session script, replayed round after
# round. Classes, layers, viewport sizes and formats come in a fixed
# order, so every seed has the same mix at every prefix of the stream
# (a short run serves only a prefix); the seed draws positions, filter
# values, page depths, tiles and which recent page a repeat replays.
# The first eight requests (a 15 s run) hold bbox pages on both layers
# in json and geojson, a pbf where/order/deep-offset page, a re-pan
# repeat, an extent, a polygon filter and a tile on each tile layer
# that serves (`points_persisted` tiles fail; the workload records
# them apart); a pbf bbox page, counts, outSR+maxAllowableOffset, ids
# and its objectIds fetch come next. Per round of 24 (an `ids` request
# is followed by its objectIds fetch): 7 bbox pages, 2
# where/order/deep-offset pages, 2 counts, an ids request and its
# objectIds fetch, one each of extent, polygon filter and
# outSR+maxAllowableOffset, 4 repeats of a recent bbox page (a webmap
# re-pan) and 4 tiles; 4 of the 16 fresh queries go to rects_ingested.
SCHEDULE = [
    ("bbox", P, CITY, "json"),
    ("tile", "points_view", None, None),
    ("bbox", R, REGION, "geojson"),
    ("where", P, None, "pbf"),
    ("repeat", None, None, None),
    ("extent", P, REGION, "json"),
    ("tile", R, None, None),
    ("polygon", P, REGION, "json"),
    ("bbox", P, REGION, "pbf"),
    ("count", R, CONTINENT, "json"),
    ("outsr", P, CITY, "geojson"),
    ("ids", P, FEW, "json"),
    ("bbox", R, CONTINENT, "pbf"),
    ("repeat", None, None, None),
    ("where", R, None, "json"),
    ("tile", "points_view", None, None),
    ("count", P, REGION, "json"),
    ("bbox", P, CONTINENT, "json"),
    ("repeat", None, None, None),
    ("bbox", P, FEW, "geojson"),
    ("tile", R, None, None),
    ("bbox", P, REGION, "json"),
    ("repeat", None, None, None),
]


def viewport(r: np.random.Generator, side: tuple[float, float]) -> str:
    """A bbox at a seeded position with sides drawn from `side`."""
    w = r.uniform(*side)
    h = min(r.uniform(*side), 169.0)
    x0 = r.uniform(-180.0, 180.0 - w)
    y0 = r.uniform(-85.0, 85.0 - h)
    return f"{x0:.6f},{y0:.6f},{x0 + w:.6f},{y0 + h:.6f}"


def _fresh(r: np.random.Generator, kind: str, layer: str, side, fmt: str) -> Request:
    pts = layer == P
    if kind == "bbox":
        return Request(layer, kind, {"geometry": viewport(r, side), "f": fmt})
    if kind == "outsr":
        return Request(layer, kind, {
            "geometry": viewport(r, side),
            "outSR": "3857",
            "maxAllowableOffset": str(int(r.choice([100, 1000, 5000]))),
            "f": fmt,
        })
    if kind == "where":
        if pts:
            where, order = f"l_quantity > {int(r.integers(5, 45))}", "l_quantity DESC,l_orderkey ASC"
            depth = int(r.integers(1_000, 20_000))
        else:
            where, order = f"value > {int(r.integers(0, 800))}", "kind ASC,value DESC"
            depth = int(r.integers(50, 300))
        return Request(layer, kind, {
            "where": where,
            "orderByFields": order,
            "resultOffset": str(depth),
            "resultRecordCount": "250",
            "f": fmt,
        })
    if kind == "count":
        p = {"geometry": viewport(r, side), "returnCountOnly": "true", "f": fmt}
        if pts:
            p["where"] = f"l_quantity <= {int(r.integers(5, 50))}"
        return Request(layer, kind, p)
    if kind == "ids":
        picks = sorted(int(x) for x in r.integers(0, 1 << 30, int(r.integers(5, 60))))
        return Request(layer, kind, {"geometry": viewport(r, side), "returnIdsOnly": "true", "f": fmt},
                       fetch_pick=picks)
    if kind == "extent":
        return Request(layer, kind, {
            "geometry": viewport(r, side),
            "where": f"l_quantity > {int(r.integers(0, 40))}",
            "returnExtentOnly": "true",
            "f": fmt,
        })
    if kind == "polygon":
        # a seeded convex polygon: 5-8 vertices around a random centre
        cx, cy = r.uniform(-150.0, 150.0), r.uniform(-60.0, 60.0)
        rad = r.uniform(*side) / 2
        ang = np.sort(r.uniform(0.0, 2 * math.pi, int(r.integers(5, 9))))
        ring = [[float(cx + rad * math.cos(a)), float(cy + 0.6 * rad * math.sin(a))] for a in ang]
        ring.append(ring[0])
        return Request(layer, kind, {
            "geometry": json.dumps({"rings": [ring]}),
            "geometryType": "esriGeometryPolygon",
            "spatialRel": "esriSpatialRelIntersects",
            "f": fmt,
        })
    raise ValueError(kind)


def feature_requests(seed: int):
    """Endless request stream following SCHEDULE. Each `ids` request is
    followed by its objectIds fetch, which the caller builds from the ids
    response. Tiles are taken in turn from the viewport walk."""
    r = _rng(seed, "requests")
    tiles = ((z, x, y) for z, vp in viewport_walk(seed) for x, y in vp)
    pages: list[Request] = []
    while True:
        for kind, layer, side, fmt in SCHEDULE:
            if kind == "repeat":
                page = pages[int(r.integers(max(0, len(pages) - 4), len(pages)))]
                yield Request(page.layer, kind, page.params)
                continue
            if kind == "tile":
                z, x, y = next(tiles)
                yield Request(layer, kind, {"z": z, "x": x, "y": y})
                continue
            req = _fresh(r, kind, layer, side, fmt)
            if kind == "bbox":
                pages.append(req)
            yield req


# ---------------------------------------------------------------------------
# webmap viewport walk
# ---------------------------------------------------------------------------


def viewport_walk(seed: int):
    """Endless random walk of 2x2-tile viewports over zooms 3-9: pan by
    one tile (so adjacent viewports share two tiles), zoom in or out."""
    r = _rng(seed, "viewports")
    z = int(r.integers(3, 6))
    n = 1 << z
    x, y = int(r.integers(0, n - 1)), int(r.integers(n // 4, 3 * n // 4))
    while True:
        yield z, [(x, y), (x + 1, y), (x, y + 1), (x + 1, y + 1)]
        u = r.random()
        if u < 0.2 and z < 9:
            z, x, y = z + 1, 2 * x + int(r.integers(0, 2)), 2 * y + int(r.integers(0, 2))
        elif u < 0.4 and z > 3:
            z, x, y = z - 1, x // 2, y // 2
        else:
            dx, dy = [(1, 0), (-1, 0), (0, 1), (0, -1)][int(r.integers(0, 4))]
            x, y = x + dx, y + dy
        n = 1 << z
        x = min(max(x, 0), n - 2)
        y = min(max(y, 0), n - 2)
