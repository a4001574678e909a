"""QueryResult → Esri JSON FeatureSet (ref serializers/esri_json.py).

Esri JSON differs from GeoJSON in geometry shape: points are {"x","y"},
polygons {"rings":[...]}, polylines {"paths":[...]}. Geometry fragments
are produced by an Arrow-batched kernel; attributes via JVM to_json.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from iceberg_geospatial_api_server_spark.catalog import FeatureSchema
from iceberg_geospatial_api_server_spark.geo import wkb as W
from iceberg_geospatial_api_server_spark.models import QueryResult

ESRI_GEOMETRY_TYPE_MAP = {
    "Point": "esriGeometryPoint",
    "MultiPoint": "esriGeometryMultipoint",
    "LineString": "esriGeometryPolyline",
    "MultiLineString": "esriGeometryPolyline",
    "Polygon": "esriGeometryPolygon",
    "MultiPolygon": "esriGeometryPolygon",
}

_ESRI_FIELD_TYPES = {
    "string": "esriFieldTypeString",
    "int32": "esriFieldTypeInteger",
    "int64": "esriFieldTypeInteger",
    "float": "esriFieldTypeSingle",
    "double": "esriFieldTypeDouble",
    "boolean": "esriFieldTypeSmallInteger",
    "date": "esriFieldTypeDate",
    "timestamp": "esriFieldTypeDate",
}


def wkb_to_esri_geometry(buf: bytes) -> dict | None:
    """Ref esri_json.py:73-97 _wkb_to_esri_geometry (shapely-free)."""
    code, payload = W.decode(buf)
    if code == W.POINT:
        return {"x": payload[0], "y": payload[1]}
    if code == W.LINESTRING:
        return {"paths": [payload.tolist()]}
    if code == W.MULTILINESTRING:
        return {"paths": [p.tolist() for p in payload]}
    if code == W.POLYGON:
        return {"rings": [r.tolist() for r in payload]}
    if code == W.MULTIPOLYGON:
        rings = []
        for poly in payload:
            rings.extend(r.tolist() for r in poly)
        return {"rings": rings}
    if code == W.MULTIPOINT:
        return {"points": [list(p) for p in payload]}
    return None


@pandas_udf(T.StringType())
def st_as_esri_json(geom: pd.Series) -> pd.Series:
    return pd.Series(
        [
            json.dumps(wkb_to_esri_geometry(b)) if b is not None else None
            for b in geom
        ]
    )


def feature_lines(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    props = [c for c in df.columns if c != geom_col and not c.startswith("__bbox_")]
    feature = F.concat(
        F.lit('{"attributes": '),
        F.to_json(
            F.struct(*[F.col(c) for c in props]),
            # Esri/GeoJSON clients expect every declared field present —
            # NULL attributes serialize as null, not as a missing key
            {"ignoreNullFields": "false"},
        ),
        F.lit(', "geometry": '),
        F.coalesce(st_as_esri_json(F.col(geom_col)), F.lit("null")),
        F.lit("}"),
    )
    return df.select(feature.alias("feature_json"))


def build_field_definitions(schema: FeatureSchema) -> list[dict]:
    return [
        {
            "name": f["name"],
            "type": _ESRI_FIELD_TYPES.get(f["type"], "esriFieldTypeString"),
            "alias": f.get("alias", f["name"]),
        }
        for f in schema.fields
    ]


def serialize(result: QueryResult, schema: FeatureSchema) -> dict:
    """Full Esri FeatureSet response (ref esri_json.py:19-70)."""
    if result.features is None:
        return {"count": result.count}

    cols = result.features.columns
    if cols == ["__oid"]:
        oids = [r[0] for r in result.collect()]
        return {"objectIdFieldName": "__oid", "objectIds": oids}

    geom_col = result.geometry_column
    has_geom = geom_col in cols
    if has_geom:
        feats = [
            json.loads(r[0])
            for r in result.collect(lambda df: feature_lines(df, geom_col))
        ]
    else:
        feats = [
            {"attributes": json.loads(r[0]), "geometry": None}
            for r in result.collect(
                lambda df: df.select(
                    F.to_json(
                        F.struct(*[F.col(c) for c in cols]),
                        {"ignoreNullFields": "false"},
                    )
                )
            )
        ]

    fields = [
        {"name": "__oid", "type": "esriFieldTypeOID", "alias": "OID"}
    ] + build_field_definitions(schema)

    return {
        "objectIdFieldName": "__oid",
        "geometryType": ESRI_GEOMETRY_TYPE_MAP.get(
            schema.geometry_type, "esriGeometryPolygon"
        ),
        "spatialReference": {"wkid": schema.srid},
        "fields": fields,
        "features": feats,
        "exceededTransferLimit": result.exceeded_transfer_limit,
    }
