"""Reference answers from DuckDB over the same parquet the layers read.

Nothing here runs inside a timed region. The bbox columns are plain
doubles and OIDs are ranks under the engine's documented total order
(every sortable column in schema order), so plain SQL reproduces both
without a spatial extension.
"""

from __future__ import annotations

import json
import math
from decimal import Decimal

import duckdb
import numpy as np

from iceberg_geospatial_api_server_spark.serializers.mvt import decode_tile, tile_bbox


class LayerRef:
    """DuckDB table `name` over a layer's rows (`src_sql`, which must
    yield __bbox_* columns), ranked into __oid by `order_cols`."""

    def __init__(self, con, name: str, src_sql: str, order_cols: list[str], max_records: int):
        self.con, self.name, self.max_records = con, name, max_records
        con.execute(
            f"CREATE OR REPLACE TABLE {name} AS SELECT *, "
            f"CAST(row_number() OVER (ORDER BY {', '.join(order_cols)}) - 1 AS BIGINT) "
            f"AS __oid FROM ({src_sql})"
        )

    def rows(self, where: str, cols: str = "__oid") -> list[tuple]:
        return self.con.execute(f"SELECT {cols} FROM {self.name} WHERE {where}").fetchall()


def parquet_sql(files: list[str], bbox_table: str | None = None) -> str:
    """Rows of parquet `files`; with `bbox_table`, joined by `id` to the
    generated features' bboxes (for layers that do not persist them)."""
    src = "SELECT * FROM read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    if bbox_table is None:
        return src
    return (f"SELECT s.*, b.xmin AS __bbox_xmin, b.ymin AS __bbox_ymin, "
            f"b.xmax AS __bbox_xmax, b.ymax AS __bbox_ymax "
            f"FROM ({src}) s JOIN {bbox_table} b USING (id)")


def register_bboxes(con, table: str, features: list[dict]) -> None:
    """id -> bbox of generated GeoJSON features, as a DuckDB table."""
    ids, b = [], []
    for f in features:
        xy = np.asarray(f["geometry"]["coordinates"], dtype=float).reshape(-1, 2)
        ids.append(f["properties"]["id"])
        b.append((xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max()))
    arr = np.asarray(b)
    import pandas as pd

    df = pd.DataFrame({"id": np.asarray(ids, dtype=np.int64), "xmin": arr[:, 0],
                       "ymin": arr[:, 1], "xmax": arr[:, 2], "ymax": arr[:, 3]})
    con.register(f"{table}_df", df)
    con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM {table}_df")
    con.unregister(f"{table}_df")


def _bbox_where(bbox: tuple[float, float, float, float]) -> str:
    x0, y0, x1, y1 = bbox
    return (f"__bbox_xmax >= {x0!r} AND __bbox_xmin <= {x1!r} AND "
            f"__bbox_ymax >= {y0!r} AND __bbox_ymin <= {y1!r}")


def _point_in_ring(x: np.ndarray, y: np.ndarray, ring: list) -> np.ndarray:
    """Even-odd ray cast; the seeded filter rings never pass through a
    lattice point, so boundary cases do not arise."""
    inside = np.zeros(len(x), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        crosses = (y0 > y) != (y1 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (x < xi)
    return inside


# ---------------------------------------------------------------------------
# FeatureServer responses
# ---------------------------------------------------------------------------


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, i
        shift += 7


def _fields(buf: bytes):
    """(field, wire, value) of one protobuf message level."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        f, w = key >> 3, key & 7
        if w == 0:
            v, i = _varint(buf, i)
        elif w == 1:
            v, i = buf[i:i + 8], i + 8
        elif w == 2:
            n, i = _varint(buf, i)
            v, i = buf[i:i + n], i + n
        elif w == 5:
            v, i = buf[i:i + 4], i + 4
        else:
            raise ValueError(f"wire type {w}")
        yield f, w, v


def pbf_page(buf: bytes) -> tuple[list[int], bool]:
    """OIDs (the first attribute of each feature) and
    exceededTransferLimit of a FeatureCollectionPBuffer."""
    qr = next(v for f, _, v in _fields(buf) if f == 2)
    fr = next(v for f, _, v in _fields(qr) if f == 1)
    oids, exceeded = [], False
    for f, _, v in _fields(fr):
        if f == 9:
            exceeded = bool(v)
        elif f == 15:
            attr = next(a for g, _, a in _fields(v) if g == 1)
            _, _, z = next(_fields(attr))
            oids.append((z >> 1) ^ -(z & 1))
    return oids, exceeded


def response_page(payload, fmt: str) -> tuple[list[int], bool | None]:
    """OIDs in response order and exceededTransferLimit (None where the
    format does not carry it)."""
    if fmt == "pbf":
        return pbf_page(payload)
    if fmt == "geojson":
        return [f["properties"]["__oid"] for f in payload["features"]], None
    return ([f["attributes"]["__oid"] for f in payload["features"]],
            payload["exceededTransferLimit"])


def response_size(payload) -> int:
    if isinstance(payload, (bytes, bytearray)):
        return len(payload)
    return len(json.dumps(payload))


def check_request(ref: LayerRef, params: dict, payload) -> bool:
    """True when the response to `params` matches DuckDB over the layer."""
    conds = ["TRUE"]
    ring = None
    if params.get("geometry"):
        if params.get("geometryType") == "esriGeometryPolygon":
            ring = json.loads(params["geometry"])["rings"][0]
            xs, ys = [p[0] for p in ring], [p[1] for p in ring]
            bbox = (min(xs), min(ys), max(xs), max(ys))
        else:
            bbox = tuple(float(v) for v in params["geometry"].split(","))
        conds.append(_bbox_where(bbox))
    if params.get("where"):
        conds.append(params["where"])
    where = " AND ".join(conds)
    rows = ref.rows(where, "__oid, __bbox_xmin, __bbox_ymin")
    if ring is not None:
        x = np.array([r[1] for r in rows])
        y = np.array([r[2] for r in rows])
        keep = _point_in_ring(x, y, ring) if rows else np.zeros(0, dtype=bool)
        rows = [r for r, k in zip(rows, keep) if k]
    oids = sorted(r[0] for r in rows)

    if params.get("returnCountOnly") == "true":
        return payload == {"count": len(oids)}
    if params.get("returnIdsOnly") == "true":
        return payload.get("objectIds") == oids
    if params.get("returnExtentOnly") == "true":
        ext = ref.con.execute(
            f"SELECT min(__bbox_xmin), min(__bbox_ymin), max(__bbox_xmax), "
            f"max(__bbox_ymax) FROM {ref.name} WHERE {where}").fetchone()
        got = payload.get("extent") or {}
        return payload.get("count") == len(oids) and all(
            math.isclose(got.get(k, math.nan), v, rel_tol=1e-12, abs_tol=1e-9)
            for k, v in zip(("xmin", "ymin", "xmax", "ymax"), ext))
    fmt = params.get("f", "json")
    got, exceeded = response_page(payload, fmt)
    if params.get("objectIds"):
        want = {int(x) for x in params["objectIds"].split(",")}
        return sorted(got) == sorted(want & {r[0] for r in ref.rows("TRUE")})
    limit = int(params.get("resultRecordCount", ref.max_records))
    offset = int(params.get("resultOffset", 0))
    order = params.get("orderByFields")
    if order:
        keys = ", ".join(order.split(",") + ["__oid"])
        oset = ",".join(str(o) for o in oids) or "NULL"
        page = [r[0] for r in ref.con.execute(
            f"SELECT __oid FROM {ref.name} WHERE __oid IN ({oset}) "
            f"ORDER BY {keys} LIMIT {limit} OFFSET {offset}").fetchall()]
    else:
        page = oids[offset:offset + limit]
    if exceeded is not None and exceeded != (len(oids) > offset + limit):
        return False
    return got == page


# ---------------------------------------------------------------------------
# tiles
# ---------------------------------------------------------------------------


def tile_envelope(z: int, x: int, y: int, extent: int = 4096, buffer_px: int = 64):
    xmin, ymin, xmax, ymax = tile_bbox(z, x, y)
    bx = (xmax - xmin) * buffer_px / extent
    by = (ymax - ymin) * buffer_px / extent
    return (xmin - bx, ymin - by, xmax + bx, ymax + by), (xmax - xmin) / extent


def check_tile(ref: LayerRef, z: int, x: int, y: int, payload: bytes) -> tuple[bool, int, int]:
    """(ok, decoded features, bbox-prefilter candidates). A feature that
    overlaps the buffered envelope by under two pixels may be dropped by
    the encoder's pixel snapping, so the decoded count must lie between
    the strict and the inclusive candidate counts (capped at the
    layer's maxRecordCount)."""
    env, px = tile_envelope(z, x, y)
    loose = ref.rows(_bbox_where(env), "count(*)")[0][0]
    m = 2 * px
    strict = ref.rows(
        f"__bbox_xmax > {env[0] + m!r} AND __bbox_xmin < {env[2] - m!r} AND "
        f"__bbox_ymax > {env[1] + m!r} AND __bbox_ymin < {env[3] - m!r}", "count(*)")[0][0]
    n = sum(len(layer["features"]) for layer in decode_tile(payload)) if payload else 0
    cap = ref.max_records
    return min(strict, cap) <= n <= min(loose, cap), n, loose


# ---------------------------------------------------------------------------
# registry oracles (the canonical compare of tools/drive.py)
# ---------------------------------------------------------------------------


def canon(pdf) -> list[str]:
    """Order-insensitive canonical rows: columns by name, rows sorted over
    every column, floats rounded to 6 places, no int->float coercion."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    out = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            if hasattr(v, "item") and not isinstance(v, (bytes, str)):
                v = v.item()
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    return out


def oracle_matches(con, oracle_sql: str, spark_pdf) -> bool:
    want = con.execute(oracle_sql).fetch_df()
    return (sorted(spark_pdf.columns) == sorted(want.columns)
            and len(spark_pdf) == len(want) and canon(spark_pdf) == canon(want))


def connect() -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con
