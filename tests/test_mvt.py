"""Mapbox Vector Tile writer (serializers/mvt.py): command-stream
round-trip through the test-side decoder, winding rules, key/value
tables, quantization, and the end-to-end distributed tile build."""

import math

import numpy as np
import pandas as pd
import pytest

from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.serializers.mvt import (
    MVT_LINESTRING,
    MVT_POINT,
    MVT_POLYGON,
    build_layer,
    decode_tile,
    encode_geometry_commands,
    serialize_tile,
    tile_bbox,
)


def test_tile_bbox_inverts_tile_assignment():
    from iceberg_geospatial_api_server_spark.geo.tiles import tile_expr_sql  # noqa: F401

    xmin, ymin, xmax, ymax = tile_bbox(0, 0, 0)
    assert xmin == -180.0 and xmax == 180.0
    assert abs(ymax - 85.0511287798066) < 1e-9
    # z=1 x=1 y=1 is the SE quadrant
    xmin, ymin, xmax, ymax = tile_bbox(1, 1, 1)
    assert xmin == 0.0 and ymax == 0.0 and xmax == 180.0


def _roundtrip(buf, z=0, x=0, y=0):
    res = encode_geometry_commands(buf, z, x, y)
    assert res is not None
    gtype, cmds = res
    layer = build_layer("t", [(None, {}, gtype, cmds)])
    tile = decode_tile(layer)
    return gtype, tile[0]["features"][0]["paths"]


def test_point_roundtrip_center_of_tile():
    gtype, paths = _roundtrip(W.encode_point(0.0, 0.0))
    assert gtype == MVT_POINT
    assert paths == [[(2048, 2048)]]


def test_linestring_roundtrip_and_delta_encoding():
    line = W.encode_linestring(
        np.array([[-90.0, 0.0], [0.0, 0.0], [90.0, 0.0]])
    )
    gtype, paths = _roundtrip(line)
    assert gtype == MVT_LINESTRING
    assert paths == [[(1024, 2048), (2048, 2048), (3072, 2048)]]


def test_polygon_winding_v2():
    """Spec 2.1 §4.3.3.3: the exterior ring must have POSITIVE area by
    the surveyor's formula applied to the tile coordinates (clockwise
    on a y-down screen), holes negative — this is how conformant
    clients (MapLibre/deck.gl MVTLayer) classify rings."""
    outer = np.array(
        [[-90.0, -66.0], [90.0, -66.0], [90.0, 66.0], [-90.0, 66.0], [-90.0, -66.0]]
    )
    hole = np.array(
        [[-45.0, -40.0], [-45.0, 40.0], [45.0, 40.0], [45.0, -40.0], [-45.0, -40.0]]
    )
    gtype, paths = _roundtrip(W.encode_polygon([outer, hole]))
    assert gtype == MVT_POLYGON
    assert len(paths) == 2

    def area2(p):
        # the spec's surveyor formula, verbatim — no sign adjustment
        s = 0
        for (x1, y1), (x2, y2) in zip(p[:-1], p[1:]):
            s += x1 * y2 - x2 * y1
        return s

    assert area2(paths[0]) > 0  # exterior: positive surveyor area
    assert area2(paths[1]) < 0  # hole: negative


def test_degenerate_geometries_dropped():
    # a polygon far below pixel size at z0 collapses → None
    tiny = np.array(
        [[0.0, 0.0], [1e-6, 0.0], [1e-6, 1e-6], [0.0, 1e-6], [0.0, 0.0]]
    )
    assert encode_geometry_commands(W.encode_polygon([tiny]), 0, 0, 0) is None
    # but survives at high zoom (tile 2^20 … use z=22 over tile containing it)
    n = 1 << 22
    assert (
        encode_geometry_commands(W.encode_polygon([tiny * 40.0]), 22, n // 2, n // 2)
        is not None
    )


def test_layer_key_value_tables_dedup():
    feats = [
        (1, {"kind": "road", "lanes": 2}, MVT_POINT, [9, 0, 0]),
        (2, {"kind": "road", "lanes": 4}, MVT_POINT, [9, 2, 2]),
        (3, {"kind": "river"}, MVT_POINT, [9, 4, 4]),
    ]
    tile = decode_tile(build_layer("base", feats))
    layer = tile[0]
    assert layer["name"] == "base" and layer["version"] == 2
    assert layer["keys"] == ["kind", "lanes"]
    assert layer["values"] == ["road", 2, 4, "river"]
    f0, f1, f2 = layer["features"]
    assert f0["tags"] == [0, 0, 1, 1]
    assert f1["tags"] == [0, 0, 1, 2]
    assert f2["tags"] == [0, 3]
    assert [f["id"] for f in (f0, f1, f2)] == [1, 2, 3]


def test_value_types():
    feats = [
        (None, {"s": "x", "i": 7, "neg": -3, "f": 1.5, "b": True}, MVT_POINT, [9, 0, 0])
    ]
    layer = decode_tile(build_layer("v", feats))[0]
    assert set(layer["values"]) == {"x", 7, -3, 1.5, True}


def test_serialize_tile_end_to_end(spark):
    """Distributed build: points across two tiles at z=1; each tile gets
    only its own features, attributes round-trip, coords land inside the
    extent."""
    pts = [
        (1, -90.0, 40.0, "a"),  # NW tile (0,0)
        (2, -45.0, 20.0, "b"),  # NW tile
        (3, 90.0, -40.0, "c"),  # SE tile (1,1)
    ]
    rows = [
        {"fid": fid, "geometry": W.encode_point(x, y), "name": nm}
        for fid, x, y, nm in pts
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    t_nw = serialize_tile(
        df, 1, 0, 0, layer_name="pts", out_fields=["name"], id_col="fid"
    )
    layer = decode_tile(t_nw)[0]
    got = {f["id"] for f in layer["features"]}
    assert got == {1, 2}
    assert set(layer["values"]) == {"a", "b"}
    for f in layer["features"]:
        (x, y) = f["paths"][0][0]
        assert 0 <= x <= 4096 and 0 <= y <= 4096
    t_se = serialize_tile(
        df, 1, 1, 1, layer_name="pts", out_fields=["name"], id_col="fid"
    )
    assert {f["id"] for f in decode_tile(t_se)[0]["features"]} == {3}
    # empty tile
    assert serialize_tile(df, 1, 1, 0, out_fields=["name"]) == b""


def test_serialize_tile_clips_polygons(spark):
    """A polygon spanning both hemispheres is clipped to the requested
    tile (plus buffer): every decoded vertex stays within the buffered
    extent."""
    poly = W.encode_polygon(
        [
            np.array(
                [
                    [-120.0, -50.0],
                    [120.0, -50.0],
                    [120.0, 50.0],
                    [-120.0, 50.0],
                    [-120.0, -50.0],
                ]
            )
        ]
    )
    df = spark.createDataFrame(pd.DataFrame([{"fid": 1, "geometry": poly}]))
    t = serialize_tile(df, 1, 0, 1, id_col="fid")  # SW tile
    layer = decode_tile(t)[0]
    assert len(layer["features"]) == 1
    for path in layer["features"][0]["paths"]:
        for x, y in path:
            assert -64 <= x <= 4096 + 64
            assert -64 <= y <= 4096 + 64


def test_get_tile_api_route(spark):
    """The HTTP-free tile route: schema-driven fields/id, MVT media
    type, empty tile → b''."""
    from iceberg_geospatial_api_server_spark.api import get_tile

    rows = [
        {"fid": 10, "geometry": W.encode_point(-90.0, 40.0), "kind": "a"},
        {"fid": 11, "geometry": W.encode_point(95.0, -41.0), "kind": "b"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    payload, media = get_tile(df, 1, 0, 0, layer_name="docs")
    assert media == "application/vnd.mapbox-vector-tile"
    layer = decode_tile(payload)[0]
    assert layer["name"] == "docs"
    assert len(layer["features"]) == 1
    assert "a" in layer["values"]
    empty, _ = get_tile(df, 4, 0, 0)
    assert empty == b""


def test_get_tile_on_persisted_bbox_layer(spark, sf_dir):
    """A layer with persisted __bbox_* columns serves tiles: the default
    fields leave out the internal columns (the clip drops them), and the
    clip's pre-filter reads the persisted envelope. The tile holds the
    same features as the same layer with its __bbox_* decoded on the
    fly."""
    from iceberg_geospatial_api_server_spark.api import get_tile
    from iceberg_geospatial_api_server_spark.geo.functions import BBOX_COLS
    from iceberg_geospatial_api_server_spark.sources.geo_layer import (
        lineitem_bbox_layer,
    )

    df = lineitem_bbox_layer(spark, sf_dir)
    assert set(BBOX_COLS) <= set(df.columns)

    def features(layer_df):
        payload, _ = get_tile(layer_df, 2, 1, 1)
        layer = decode_tile(payload)[0]
        assert not any(k.startswith("__") for k in layer["keys"])
        return layer["keys"], sorted(
            (f["id"], tuple(f["paths"][0][0])) for f in layer["features"]
        )

    keys, got = features(df)
    assert keys and got
    assert (keys, got) == features(df.drop(*BBOX_COLS))


def test_render_tiles_matches_serialize_tile(spark):
    """One-pass pre-rendering must produce byte-identical tiles to the
    per-request path, cover exactly the occupied tiles, and clip
    spanning polygons into every touched tile."""
    from iceberg_geospatial_api_server_spark.serializers.mvt import (
        render_tiles,
    )

    rng = __import__("random").Random(17)
    rows = [
        {
            "fid": i,
            "geometry": W.encode_point(rng.uniform(-170, 170), rng.uniform(-75, 75)),
            "kind": f"k{i % 3}",
        }
        for i in range(40)
    ]
    # one polygon spanning several z2 tiles
    rows.append(
        {
            "fid": 100,
            "geometry": W.encode_polygon(
                [
                    np.array(
                        [
                            [-100.0, -30.0],
                            [60.0, -30.0],
                            [60.0, 40.0],
                            [-100.0, 40.0],
                            [-100.0, -30.0],
                        ]
                    )
                ]
            ),
            "kind": "poly",
        }
    )
    df = spark.createDataFrame(pd.DataFrame(rows))
    z = 2
    batch = {
        (r.tile_x, r.tile_y): (r.n_features, bytes(r.mvt))
        for r in render_tiles(
            df, z, layer_name="L", out_fields=["kind"], id_col="fid"
        ).collect()
    }
    assert batch  # occupied tiles exist
    # polygon appears in every tile its bbox touches
    poly_tiles = [
        t for t, (_, b) in batch.items()
        if any(f["id"] == 100 for f in decode_tile(b)[0]["features"])
    ]
    assert len(poly_tiles) >= 4
    # per-tile SEMANTIC equality with the per-request path (ring start
    # vertex may differ between the axis-rect fast clip and the general
    # SH traversal — same polygon, different MoveTo)
    def canon(tile_bytes):
        layer = decode_tile(tile_bytes)[0]
        out = []
        for f in sorted(layer["features"], key=lambda f: f["id"]):
            attrs = tuple(
                (layer["keys"][k], layer["values"][v])
                for k, v in zip(f["tags"][::2], f["tags"][1::2])
            )
            paths = sorted(frozenset(p) for p in f["paths"])
            out.append((f["id"], f["type"], attrs, paths))
        return layer["name"], out

    for (tx, ty), (nf, b) in list(batch.items())[:6]:
        single = serialize_tile(
            df, z, tx, ty, layer_name="L", out_fields=["kind"], id_col="fid"
        )
        assert canon(single) == canon(b), (tx, ty)
    # empty tile agreement: a tile absent from batch is empty per-request
    all_tiles = {(x, y) for x in range(4) for y in range(4)}
    for tx, ty in sorted(all_tiles - set(batch))[:3]:
        assert (
            serialize_tile(df, z, tx, ty, layer_name="L", out_fields=["kind"], id_col="fid")
            == b""
        )
