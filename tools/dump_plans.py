"""Dump .explain('formatted') for bench queries to plans/$PLANS_DIR/.

Usage:
  python tools/dump_plans.py before            # all BENCH_QUERIES
  python tools/dump_plans.py after name1 name2 # a subset

Writes plans/$PLANS_DIR/<name>_<tag>.txt ($PLANS_DIR defaults to r11).
Construction-only (no actions except what eager entries run at build
time), so it is cheap and safe to run alongside other work. The
prepared scd2_merge_apply entry is built via bench's own
_prepare_scd2_merge_apply so the dumped plan is the plan the bench
times.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])

    from iceberg_geospatial_api_server_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    import __spark_entry__ as entry_mod
    from iceberg_geospatial_api_server_spark.plans.explain import (
        formatted_plan,
    )

    qs = entry_mod.queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_DIR", "r11"),
    )
    os.makedirs(out_dir, exist_ok=True)

    names = [n for n in bench.BENCH_QUERIES if not only or n in only]
    # non-bench names asked for explicitly are allowed too
    names += [n for n in only if n not in names and n in qs]
    for name in names:
        try:
            if name == "scd2_merge_apply":
                df, _ = bench._prepare_scd2_merge_apply(spark)
            else:
                df = qs[name](spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as exc:  # noqa: BLE001 — record, keep going
            plan = f"ERROR building {name}: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
