"""FeatureServer responses on a warm layer handle: Spark jobs per
response, exceededTransferLimit at the page boundary, and the per-handle
layer-schema snapshot.

A warm handle has been served once, so its schema (geometry type,
extent) is memoized on it. From then on a page, an id list, an objectIds
fetch and a tile each run one collect, and a count or an extent one
aggregate. The pinned job counts are the stages adaptive execution
submits for that one action on a layer with persisted ``__oid`` and
``__bbox_*`` columns:

* page (json, geojson, pbf) and id list: 3 — the range-partitioned sort
  under the serializer's Python projection samples its bounds (1),
  shuffles (2) and is collected (3);
* returnCountOnly, returnExtentOnly: 2 — partial aggregate, final;
* objectIds fetch, tile: 1.
"""

import itertools

import pytest
from test_serializers import _parse_message

from iceberg_geospatial_api_server_spark.api import get_tile, query_layer
from iceberg_geospatial_api_server_spark.catalog import feature_schema
from iceberg_geospatial_api_server_spark.engine import query_features
from iceberg_geospatial_api_server_spark.models import QueryParams
from iceberg_geospatial_api_server_spark.serializers import (
    esri_json,
    esri_pbf,
    geojson,
)

BBOX = "-60,-40,40,35"
WHERE = "l_quantity > 40.0"
_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"response-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def layer(spark, tables, tmp_path_factory):
    """Point layer with persisted __oid and __bbox_* columns, warmed by
    one page."""
    from iceberg_geospatial_api_server_spark.engine import with_oid
    from iceberg_geospatial_api_server_spark.geo.functions import with_bbox
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_point_geoms,
    )

    path = str(tmp_path_factory.mktemp("layer") / "points")
    with_bbox(with_oid(lineitem_point_geoms(tables["lineitem"]))).write.parquet(path)
    df = spark.read.parquet(path)
    query_layer(df, {"geometry": BBOX, "f": "json"})
    return df


def test_warm_feature_schema_runs_no_job(spark, layer):
    schema, n = _jobs(spark, lambda: feature_schema(layer))
    assert n == 0
    assert schema.geometry_type == "Point" and schema.extent is not None


@pytest.mark.parametrize(
    "params, jobs",
    [
        ({"geometry": BBOX, "f": "json"}, 3),
        ({"geometry": BBOX, "f": "geojson"}, 3),
        ({"geometry": BBOX, "f": "pbf"}, 3),
        ({"geometry": BBOX, "returnCountOnly": "true"}, 2),
        ({"geometry": BBOX, "returnExtentOnly": "true"}, 2),
        ({"geometry": BBOX, "returnIdsOnly": "true"}, 3),
        ({"objectIds": "3,7,11,500", "f": "json"}, 1),
    ],
    ids=["json", "geojson", "pbf", "count", "extent", "ids", "object_ids"],
)
def test_jobs_per_response(spark, layer, params, jobs):
    payload, n = _jobs(spark, lambda: query_layer(layer, params)[0])
    assert payload
    assert n == jobs


def test_jobs_per_tile(spark, layer):
    payload, n = _jobs(spark, lambda: get_tile(layer, 2, 1, 1)[0])
    assert payload
    assert n == 1


def test_direct_caller_count_costs_one_job(spark, layer):
    """Without a serializer, count and exceededTransferLimit resolve
    together on first read, in one job, and are then known."""
    res = query_features(layer, QueryParams(limit=20, return_geometry=False))
    (count, exceeded), n = _jobs(
        spark, lambda: (res.count, res.exceeded_transfer_limit)
    )
    assert (count, exceeded, n) == (20, True, 1)
    _, n = _jobs(spark, lambda: (res.count, res.exceeded_transfer_limit))
    assert n == 0


# -- exceededTransferLimit at the page boundary ------------------------------


def _matching(df):
    """Brute force: rows matching WHERE, counted on the driver."""
    return sum(r.l_quantity > 40.0 for r in df.select("l_quantity").collect())


def _serialize(df, fmt, params):
    """Serialize one page; return (rows, exceeded, result) where
    `exceeded` is what the payload says (GeoJSON carries no flag, so
    the serialized result's own is used there)."""
    res = query_features(df, QueryParams(where=WHERE, **params))
    schema = feature_schema(df)
    if fmt == "json":
        out = esri_json.serialize(res, schema)
        return len(out["features"]), out["exceededTransferLimit"], res
    if fmt == "geojson":
        out = geojson.serialize(res)
        return len(out["features"]), res.exceeded_transfer_limit, res
    blob = esri_pbf.serialize(res, schema)
    return _pbf_features(blob), _pbf_exceeded(blob), res


def _feature_result(blob):
    qr = _parse_message(_parse_message(blob)[2][0])
    return _parse_message(qr[1][0])


def _pbf_features(blob):
    return len(_feature_result(blob).get(15, []))


def _pbf_exceeded(blob):
    return bool(_feature_result(blob).get(9, [0])[0])


@pytest.mark.parametrize("fmt", ["json", "geojson", "pbf"])
def test_exceeded_at_page_boundary(spark, layer, fmt):
    total = _matching(layer)
    assert total > 30
    offset = 7
    cases = [
        # offset + limit == total: the page ends on the last row
        (dict(limit=total - offset, offset=offset), total - offset, False),
        # offset + limit == total - 1: one row is left over
        (dict(limit=total - offset - 1, offset=offset), total - offset - 1, True),
    ]
    for params, want_rows, want_exceeded in cases:
        rows, exceeded, res = _serialize(layer, fmt, params)
        assert (rows, exceeded) == (want_rows, want_exceeded), params
        # the serializer's collect also settled the result's counters
        counters, n = _jobs(
            spark, lambda: (res.count, res.exceeded_transfer_limit)
        )
        assert counters == (rows, exceeded) and n == 0


@pytest.fixture(scope="module")
def rects(tables):
    from iceberg_geospatial_api_server_spark.sources.synthetic import (
        lineitem_rect_geoms,
    )

    return lineitem_rect_geoms(tables["lineitem"])


@pytest.mark.parametrize("fmt", ["json", "geojson", "pbf"])
@pytest.mark.parametrize("name", ["layer", "rects"])
def test_exceeded_without_record_count(request, name, fmt):
    """resultRecordCount omitted: the layer's max_record_count pages —
    10000 for points (not reached), 500 for polygons (exceeded)."""
    df = request.getfixturevalue(name)
    total = _matching(df)
    cap = feature_schema(df).max_record_count
    assert (cap, total - 5 > cap) == (
        (10000, False) if name == "layer" else (500, True)
    )
    payload, _ = query_layer(df, {"where": WHERE, "f": fmt, "resultOffset": "5"})
    if fmt == "pbf":
        rows, exceeded = _pbf_features(payload), _pbf_exceeded(payload)
    elif fmt == "json":
        rows, exceeded = len(payload["features"]), payload["exceededTransferLimit"]
    else:  # GeoJSON carries no flag; the page length must still be right
        rows, exceeded = len(payload["features"]), total - 5 > cap
    assert rows == min(cap, total - 5)
    assert exceeded == (total - 5 > cap)


# -- per-handle layer schema --------------------------------------------------


def test_schema_copies_are_independent(layer):
    """Mutating a returned schema (as the OGC provider does with
    geometry_column) never reaches the next caller."""
    from iceberg_geospatial_api_server_spark.ogc import OgcFeaturesProvider

    first = feature_schema(layer)
    first.geometry_column = "elsewhere"
    first.fields.append({"name": "ghost", "type": "string", "alias": "ghost"})
    first.extent["xmin"] = 1e9
    OgcFeaturesProvider(layer, "pts", geometry_column="other_geom")
    again = feature_schema(layer, "pts2")
    assert again.geometry_column == "geometry"
    assert "ghost" not in [f["name"] for f in again.fields]
    assert again.extent["xmin"] < 1e9
    assert again.table_identifier == "pts2"


def test_new_handle_sees_appended_extent(spark, tmp_path):
    """A handle's schema is its snapshot's: after an append, read()
    returns a new handle reporting the appended features' extent, and
    the old handle keeps its own."""
    from iceberg_geospatial_api_server_spark.geo import wkb as W
    from iceberg_geospatial_api_server_spark.sources.fs_versioned import (
        VersionedTable,
    )

    def batch(pts):
        return spark.createDataFrame(
            [(i, bytearray(W.encode_point(x, y))) for i, (x, y) in pts],
            "id long, geometry binary",
        )

    vt = VersionedTable(spark, str(tmp_path / "layer"))
    vt.append(batch([(0, (1.0, 2.0)), (1, (3.0, 4.0))]))
    old = vt.read()
    assert feature_schema(old).extent == {
        "xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0,
    }
    vt.append(batch([(2, (-50.0, 60.0))]))
    new = vt.read()
    assert feature_schema(new).extent == {
        "xmin": -50.0, "ymin": 2.0, "xmax": 3.0, "ymax": 60.0,
    }
    assert feature_schema(old).extent == {
        "xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0,
    }
    # and the new handle pages the appended feature
    payload, _ = query_layer(new, {"geometry": "-60,50,-40,70", "f": "json"})
    assert [f["attributes"]["id"] for f in payload["features"]] == [2]
