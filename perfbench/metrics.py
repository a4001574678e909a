"""End-to-end metrics (tracing off) and per-layer metrics (traced run).

Per-layer values are means per timed operation: a FeatureServer
request or tile, or a corpus pass. Each layer's `_s` is
its spans' self time (span minus the spans it called), so the layers'
`_s` values and `trace.unaccounted_s` sum to `trace.op_wall_s`;
`driver.self_s` is the part of an operation during which no Spark job
of it was running.
"""

from __future__ import annotations

import statistics

from spans import union_s

# program entry points wrapped in spans for the traced run:
# (module path, attribute, layer name)
_WRAPPED = [
    ("iceberg_geospatial_api_server_spark.api", "query_layer", "api"),
    ("iceberg_geospatial_api_server_spark.api", "get_tile", "api"),
    ("iceberg_geospatial_api_server_spark.api", "parse_geoservices_params", "api.parse"),
    ("iceberg_geospatial_api_server_spark.catalog", "feature_schema", "catalog.feature_schema"),
    ("iceberg_geospatial_api_server_spark.engine", "query_features", "engine.query_features"),
    ("iceberg_geospatial_api_server_spark.serializers.esri_json", "serialize", "serializers.esri_json"),
    ("iceberg_geospatial_api_server_spark.serializers.esri_pbf", "serialize", "serializers.esri_pbf"),
    ("iceberg_geospatial_api_server_spark.serializers.geojson", "serialize", "serializers.geojson"),
    ("iceberg_geospatial_api_server_spark.serializers.mvt", "serialize_tile", "serializers.mvt"),
]

# layers whose self time and jobs are reported
SPANNED = list(dict.fromkeys(layer for _, _, layer in _WRAPPED))
_SPARK = ["executor_run_s", "executor_cpu_s", "input_records", "shuffle_bytes", "spill_bytes"]


def wrap_layers(tracer) -> None:
    import importlib

    for mod, attr, layer in _WRAPPED:
        tracer.wrap(importlib.import_module(mod), attr, layer)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    p = int(100 * (1 - 10 / n)) if n > 10 else None
    return p if p and p > 50 else None


def end_to_end(out, session_s: float) -> dict[str, float]:
    return {
        "setup_s": session_s + out.build_s + out.warm_s,
        "op_p50_s": statistics.median(out.latencies()),
    }


def per_layer(out, tracer, session_s: float, peak_rss_mb: float) -> dict[str, float]:
    ops = tracer.ops
    n = len(ops)
    assert n == len(out.ops), "one top-level span per timed operation"
    m: dict[str, float] = {
        "session.start_s": session_s,
        "session.peak_rss_mb": peak_rss_mb,
        "sources.layer_build_s": out.build_s,
        "session.warmup_s": out.warm_s,
        "trace.ops": n,
        "trace.op_wall_s": sum(o.dur for o in ops) / n,
        "error_rate": out.failed / n,
    }
    self_s: dict[str, float] = {}
    jobs: dict[str, int] = {}
    shuffle: dict[str, float] = {}
    tot = dict.fromkeys(["jobs", "stages", "tasks"] + _SPARK, 0.0)
    job_wall = driver = 0.0
    examined = returned = 0
    for op, rec in zip(ops, out.ops):
        intervals = []
        op_records = 0
        for s in op.walk():
            self_s[s.layer] = self_s.get(s.layer, 0.0) + s.self_s
            jobs[s.layer] = jobs.get(s.layer, 0) + s.jobs
            shuffle[s.layer] = shuffle.get(s.layer, 0.0) + s.counters.get("shuffle_bytes", 0)
            tot["jobs"] += s.jobs
            tot["stages"] += s.stages
            tot["tasks"] += s.tasks
            for k in _SPARK:
                tot[k] += s.counters.get(k, 0)
            op_records += s.counters.get("input_records", 0)
            intervals += s.job_intervals
        busy = union_s(intervals, op.t0, op.t1)
        job_wall += busy
        driver += op.dur - busy
        if rec.info.get("returned"):
            examined += op_records
            returned += rec.info["returned"]
    for layer in SPANNED:
        m[f"{layer}_s"] = self_s.get(layer, 0.0) / n
        m[f"{layer}_jobs"] = jobs.get(layer, 0) / n
    m["trace.unaccounted_s"] = self_s.get("bench", 0.0) / n
    for k, v in tot.items():
        m[f"spark.{k}"] = v / n
    m["spark.job_wall_s"] = job_wall / n
    m["driver.self_s"] = driver / n
    m["engine.rows_examined_per_row_returned"] = examined / returned if returned else 0.0
    stats = out.layer_stats
    m["serializers.bytes_out"] = statistics.mean(stats["bytes_out"]) if stats.get("bytes_out") else 0.0
    tiles = [o for o in out.ops if o.kind == "tile" and o.error is None]
    m["geo.clip_candidates"] = stats.get("clip_candidates", 0) / len(tiles) if tiles else 0.0
    m["geo.clip_yield"] = (stats["clip_decoded"] / stats["clip_candidates"]
                           if stats.get("clip_candidates") else 0.0)
    m["tile_error_rate"] = stats.get("tile_error_rate", 0.0)
    from workloads import CORPUS_ENTRIES

    for e in CORPUS_ENTRIES:
        m[f"operators.{e}_s"] = self_s.get(f"operators.{e}", 0.0) / n
        m[f"operators.{e}_jobs"] = jobs.get(f"operators.{e}", 0) / n
        m[f"operators.{e}_shuffle_bytes"] = shuffle.get(f"operators.{e}", 0.0) / n
    return m


def report_lines(out, e2e: dict, layered: dict, tracer=None) -> list[str]:
    units = {"setup_s": "s", "op_p50_s": "s"}
    lines = [f"{k:<44} {v:>14.4f} {units[k]}" for k, v in e2e.items()]
    lat = sorted(out.latencies())
    p = tail_percentile(len(lat))
    tail = f"p{p} {statistics.quantiles(lat, n=100)[p - 1]:.4f} s" if p else "n/a (under 21 samples)"
    lines.append(f"{'operations':<44} {len(lat):>14d} ({out.failed} failed; tail {tail}; "
                 f"{out.measured_s:.1f} s measured)")
    lines.append(f"{'setup: build, warm-up (s)':<44} {out.build_s:.3f}, {out.warm_s:.3f}")
    lines.append("latencies (s): " + " ".join(f"{o.kind}/{o.layer}={o.wall:.3f}" for o in out.ops))
    if tracer is not None:
        lines.append("Spark jobs per operation: " + " ".join(
            f"{o.kind}/{o.layer}={sum(s.jobs for s in span.walk())}"
            for o, span in zip(out.ops, tracer.ops)))
    by_kind: dict[str, list[float]] = {}
    for o in out.ops:
        by_kind.setdefault(f"{o.kind}/{o.layer}", []).append(o.wall)
    for k, v in sorted(by_kind.items()):
        lines.append(f"{'  p50 ' + k:<44} {statistics.median(v):>14.4f} s  (n={len(v)})")
    errors = sorted({o.error for o in out.ops if o.error})
    lines += [f"error: {e}" for e in errors]
    lines += out.report
    lines += [f"{k:<44} {v:>14.4f}" for k, v in layered.items()]
    return lines
