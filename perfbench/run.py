"""Benchmark runner.

    python3 perfbench/run.py --workload feature_query --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a table of every metric with its
unit and the verification result, then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1
the same workload runs with the program's layer entry points wrapped in
spans, and the metrics are the per-layer ones.

Deployment settings live here, not in the program: cores, driver heap,
worker imports, and a per-run temp dir inside the checkout (removed on
exit), so every run builds its layers cold.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _deploy_env(work: str) -> dict[str, str]:
    """Environment for the session factory and Spark; returns the Spark
    confs the runner adds."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a quarter of the machine, at most 4g: the factory's 32g default is
    # sized for a large host, and the JVM here shares it with others
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gib // 4)))}g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        # the JVM's temp files go to the work dir; no perf-data file at all
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("feature_query", "corpus_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        confs = _deploy_env(work)
        sys.path.insert(0, ROOT)
        import gen
        import metrics
        import workloads
        from spans import Tracer

        from iceberg_geospatial_api_server_spark.session import get_spark
        from iceberg_geospatial_api_server_spark.sources.tables import ensure_workers_can_import

        sf_dir = os.path.join(work, "data")
        gen.write_tables(sf_dir, args.seed, args.workload == "corpus_batch")

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        ensure_workers_can_import(spark)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark) if args.trace else None
            if tracer is not None:
                metrics.wrap_layers(tracer)
            ctx = workloads.Ctx(spark, args.seed, args.seconds, work, sf_dir, tracer)
            out = workloads.WORKLOADS[args.workload](ctx)
            if tracer is not None:
                tracer.unwrap()
                tracer.resolve()
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            peak_rss_mb = metrics.vm_hwm_mb(jvm_pid)
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    e2e = metrics.end_to_end(out, session_s)
    layered = metrics.per_layer(out, tracer, session_s, peak_rss_mb) if tracer is not None else {}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layered if args.trace else e2e
    result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = out.mis_verified == 0

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for line in metrics.report_lines(out, e2e, layered, tracer):
        print("  " + line)
    print(f"  verification: {'ok' if correct else 'MISMATCH'} "
          f"({out.mis_verified} mis-verified, {out.failed - out.mis_verified} raised)")
    print(json.dumps({"correct": correct, "attempted": len(out.ops),
                      "failed": out.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
