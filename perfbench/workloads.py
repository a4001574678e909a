"""The benchmark workloads: closed loops, one client thread, driving the
program's public entry points as a long-lived server or pipeline does.

Each workload builds its layers from the generated inputs and warms
them with first requests (together with session start, the set-up
time), then runs a fixed number of operations back to back (sized from
the run's seconds), then verifies every response against DuckDB.
Verification and trace resolution run after the timed loop.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import gen
import verify
from iceberg_geospatial_api_server_spark import api
from iceberg_geospatial_api_server_spark.sources import ingest as ingest_mod
from iceberg_geospatial_api_server_spark.sources.fs_versioned import VersionedTable

# A failed or mis-verified operation counts as this latency when
# percentiles are taken, so a later fix can only lower them.
TIMEOUT_S = 60.0


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    sf_dir: str
    tracer: object  # spans.Tracer, or None with tracing off


@dataclass
class Op:
    """One timed operation and what verification needs of it."""

    kind: str
    layer: str
    wall: float
    error: str | None = None
    ok: bool = True
    info: dict = field(default_factory=dict)


@dataclass
class Outcome:
    build_s: float
    warm_s: float
    measured_s: float
    ops: list[Op]
    layer_stats: dict = field(default_factory=dict)
    report: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o.error is not None or not o.ok)

    @property
    def mis_verified(self) -> int:
        return sum(1 for o in self.ops if o.error is None and not o.ok)

    def latencies(self) -> list[float]:
        return [o.wall if o.error is None and o.ok else TIMEOUT_S for o in self.ops]


def _span(ctx: Ctx, layer: str):
    return ctx.tracer.span(layer) if ctx.tracer is not None else nullcontext()


def _set_up(ctx: Ctx, build, warm) -> tuple[object, float, float]:
    """`build()` the workload's handles from the generated inputs, then
    `warm(handles)`: the first requests, which pay JIT and per-handle
    work. Returns the handles and both times."""
    t0 = time.perf_counter()
    handles = build()
    t1 = time.perf_counter()
    warm(handles)
    return handles, t1 - t0, time.perf_counter() - t1


def _timed(ctx: Ctx, next_op, nominal_s: float) -> tuple[list[Op], float]:
    """Closed loop of `next_op()` calls, each returning its Op. The count
    is fixed by the run's seconds and the operation's nominal latency on
    the reference machine, not by a clock: every seed and every commit
    then serves the same operations, so medians compare like for like
    (a faster program finishes sooner)."""
    n = max(1, round(ctx.seconds / nominal_s))
    if ctx.tracer is not None:
        ctx.tracer.ops.clear()  # only timed operations carry layer metrics
    t_start = time.perf_counter()
    ops = [next_op() for _ in range(n)]
    return ops, time.perf_counter() - t_start


def _call(ctx: Ctx, kind: str, layer: str, fn) -> tuple[Op, object]:
    """Time `fn()` as one operation; an exception is a recorded failure,
    never a reason to stop the run."""
    with _span(ctx, "bench"):
        t0 = time.perf_counter()
        try:
            out, err = fn(), None
        except Exception as e:  # the loop must keep serving; recorded below
            out, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
        wall = time.perf_counter() - t0
    return Op(kind, layer, wall, err), out


def _upload(ctx: Ctx, table_dir: str, geojson_path: str):
    """GeoJSON upload: ingest -> VersionedTable.append -> fresh handle."""
    vt = VersionedTable(ctx.spark, table_dir)
    vt.append(ingest_mod.ingest(ctx.spark, [geojson_path]))
    return vt.read()


def _files(df) -> list[str]:
    return sorted(f[len("file:"):] if f.startswith("file:") else f for f in df.inputFiles())


def _points_layer(ctx: Ctx):
    from iceberg_geospatial_api_server_spark.sources.geo_layer import lineitem_bbox_layer

    return lineitem_bbox_layer(ctx.spark, ctx.sf_dir)


def _layer_refs(ctx: Ctx, con, layers: dict, rect_feats: list[dict]) -> dict:
    from iceberg_geospatial_api_server_spark.sources.synthetic import LI_X, LI_Y

    pts, rects = layers["points_persisted"], layers["rects_ingested"]
    verify.register_bboxes(con, "rect_bbox", rect_feats)
    view_src = (f"SELECT *, {LI_X} AS __bbox_xmin, {LI_Y} AS __bbox_ymin, {LI_X} AS __bbox_xmax, "
                f"{LI_Y} AS __bbox_ymax FROM read_parquet('{ctx.sf_dir}/lineitem.parquet')")
    return {
        "points_persisted": verify.LayerRef(
            con, "points_persisted", verify.parquet_sql(_files(pts)), pts.columns, 10000),
        "rects_ingested": verify.LayerRef(
            con, "rects_ingested", verify.parquet_sql(_files(rects), "rect_bbox"), rects.columns, 500),
        "points_view": verify.LayerRef(
            con, "points_view", view_src, ["l_orderkey", "l_linenumber"], 10000),
    }


# ---------------------------------------------------------------------------
# feature_query
# ---------------------------------------------------------------------------


def feature_query(ctx: Ctx) -> Outcome:
    from iceberg_geospatial_api_server_spark.sources.synthetic import lineitem_point_geoms
    from iceberg_geospatial_api_server_spark.sources.tables import load_table

    rect_feats = gen.rects_layer(ctx.seed)
    rect_path = os.path.join(ctx.work, "rects.geojson")
    gen.write_geojson(rect_path, rect_feats)

    def build():
        return {
            "points_persisted": _points_layer(ctx),
            "points_view": lineitem_point_geoms(load_table(ctx.spark, ctx.sf_dir, "lineitem")),
            "rects_ingested": _upload(ctx, os.path.join(ctx.work, "rects"), rect_path),
        }

    def warm(layers):
        # a server's first query and first tiles pay the JIT of the query
        # and tile paths. The first query on rects_ingested (its OID
        # ranking) is left to the timed loop, where it lands on a request
        # slower than the median: warming it would cost every run 4 s of
        # set-up without moving op_p50_s.
        api.query_layer(layers[gen.P], {"geometry": "-20,-20,0,0", "f": "json"})
        for layer in ("points_view", gen.R):
            api.get_tile(layers[layer], 3, 4, 2)

    layers, build_s, warm_s = _set_up(ctx, build, warm)
    stream = gen.feature_requests(ctx.seed)
    pending: list = []  # the objectIds fetch that follows an ids response
    records = []

    def next_op() -> Op:
        if pending:
            req = pending.pop()
        else:
            req = next(stream)
        layer, params = req.layer, dict(req.params)
        if req.kind == "tile":
            call = lambda: api.get_tile(layers[layer], params["z"], params["x"], params["y"])[0]
        else:
            call = lambda: api.query_layer(layers[layer], params)[0]
        op, payload = _call(ctx, req.kind, layer, call)
        records.append((op, params, payload))
        if req.kind == "ids" and payload is not None:
            ids = payload.get("objectIds") or [0]
            picks = sorted({ids[p % len(ids)] for p in req.fetch_pick})
            pending.append(gen.Request(layer, "fetch", {
                "objectIds": ",".join(map(str, picks)), "f": params.get("f", "json")}))
        return op

    ops, measured = _timed(ctx, next_op, nominal_s=1.9)

    # Every tile the loop served is also requested from points_persisted,
    # untimed and untraced: those requests fail today (UNRESOLVED_COLUMN
    # __bbox_xmin: get_tile's default out_fields keep the persisted
    # __bbox_* columns, which geo.clip.clip_features drops). They are
    # recorded as they come out, apart from the timed operations.
    probes = []
    with ctx.tracer.paused() if ctx.tracer is not None else nullcontext():
        for op, params, _ in records:
            if op.kind == "tile":
                probe, _ = _call(ctx, "tile", gen.P, lambda: api.get_tile(
                    layers[gen.P], params["z"], params["x"], params["y"])[0])
                probes.append((params, probe))

    con = verify.connect()
    refs = _layer_refs(ctx, con, layers, rect_feats)
    bytes_out, cands, decoded = [], 0, 0
    for op, params, payload in records:
        if op.error is not None:
            continue
        ref = refs[op.layer]
        if op.kind == "tile":
            op.ok, n, loose = verify.check_tile(ref, params["z"], params["x"], params["y"], payload)
            cands += loose
            decoded += n
        else:
            op.ok = verify.check_request(ref, params, payload)
            if isinstance(payload, bytes) or "features" in payload:
                op.info["returned"] = len(verify.response_page(payload, params.get("f", "json"))[0])
        bytes_out.append(verify.response_size(payload))
    con.close()
    tiles = [o for o in ops if o.kind == "tile"] + [probe for _, probe in probes]
    return Outcome(build_s, warm_s, measured, ops, {
        "bytes_out": bytes_out, "clip_candidates": cands, "clip_decoded": decoded,
        "tile_error_rate": sum(o.error is not None or not o.ok for o in tiles) / len(tiles) if tiles else 0.0,
    }, report=[f"untimed points_persisted tile {p['z']}/{p['x']}/{p['y']}: "
               f"{probe.error or 'ok'} ({probe.wall:.3f} s)" for p, probe in probes])


# ---------------------------------------------------------------------------
# corpus_batch
# ---------------------------------------------------------------------------

CORPUS_ENTRIES = (
    "dedup_simhash",
    "dedup_minhash_lsh",
    "mm_phash_pairs",
    "text_dup_spans",
    "text_winnow_fingerprints",
    "ann_ivfpq_topk",
    "graph_triangles",
    "corpus_segment_dedup",
)


def _noop_sink(df) -> None:
    """bench.py's action: a noop-format write materializes every output
    column (count() would let Catalyst prune projections)."""
    df.write.format("noop").mode("overwrite").save()


def corpus_batch(ctx: Ctx) -> Outcome:
    import bench
    from iceberg_geospatial_api_server_spark.entry_queries import ORACLES, QUERIES
    from iceberg_geospatial_api_server_spark.sources.tables import load_table

    def build():
        # table handles and the lazy entries' plans, built once as bench.py
        # does; eager entries build inside each timed execution
        for t in ("lineitem", "documents", "embeddings"):
            load_table(ctx.spark, ctx.sf_dir, t).schema
        return {n: QUERIES[n](ctx.spark, ctx.sf_dir) for n in CORPUS_ENTRIES if n not in bench.EAGER_ENTRIES}

    outputs = {}

    def warm(plans):
        # the first pass pays JIT and worker start-up; it collects the
        # outputs that are verified after the timed loop, from plans of
        # its own, so the timed pass runs plans never executed before
        for name in CORPUS_ENTRIES:
            outputs[name] = QUERIES[name](ctx.spark, ctx.sf_dir).toPandas()
            ctx.spark.catalog.clearCache()

    plans, build_s, warm_s = _set_up(ctx, build, warm)

    def run_entry(name):
        df = plans.get(name)
        _noop_sink(df if df is not None else QUERIES[name](ctx.spark, ctx.sf_dir))

    order_rng = np.random.default_rng([ctx.seed, 11])

    def next_op() -> Op:
        def one_pass():
            for i in order_rng.permutation(len(CORPUS_ENTRIES)):
                name = CORPUS_ENTRIES[int(i)]
                with _span(ctx, f"operators.{name}"):
                    run_entry(name)
                ctx.spark.catalog.clearCache()

        op, _ = _call(ctx, "pass", "corpus", one_pass)
        return op

    ops, measured = _timed(ctx, next_op, nominal_s=12.0)

    con = verify.connect()
    for t in ("lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')")
    bad = [n for n, pdf in outputs.items()
           if not (verify.oracle_matches(con, ORACLES[n], pdf) if n in ORACLES
                   else _rows_only_ok(n, pdf, con))]
    con.close()
    for op in ops:
        op.ok = not bad
    return Outcome(build_s, warm_s, measured, ops, report=[
        f"registry outputs verified: {len(outputs) - len(bad)}/{len(outputs)}"
        + (f"; mismatched: {', '.join(bad)}" if bad else "")])


def _rows_only_ok(name: str, pdf, con) -> bool:
    """Entries without a SQL oracle: the dedup entries must find every
    planted exact duplicate, ANN must return k=10 rows for each of its 5
    queries, and the image pairs must be non-empty."""
    if name in ("dedup_simhash", "dedup_minhash_lsh"):
        dup = con.execute(
            "SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b "
            "ON a.text = b.text AND a.doc_id < b.doc_id").fetchall()
        a, b = pdf.columns[0], pdf.columns[1]
        got = {(min(x, y), max(x, y)) for x, y in zip(pdf[a], pdf[b])}
        return len(dup) > 0 and set(dup) <= got
    if name == "ann_ivfpq_topk":
        return len(pdf) == 50
    return len(pdf) > 0


WORKLOADS = {
    "feature_query": feature_query,
    "corpus_batch": corpus_batch,
}

