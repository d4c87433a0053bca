"""Per-query optimization profiler (round 17).

For each named query: capture ``explain('formatted')`` to a file, then
time N warm noop-sink runs and record warm Spark job count and the
process-tree CPU delta — the measurement loop of guide §1 (noop sink,
labelled jobs) without the full bench harness's band machinery.

    python tools/profile_queries.py --names a,b,c --sf /root/testdata/sf0.1 \
        --plans plans/r17 --suffix _before [--reps 3] [--conf k=v,k=v]

Prints one JSON line per query: {"name", "warm_jobs", "secs": [...],
"cpu": [...], "plan_file"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import _tree_cpu_seconds  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--conf", default="", help="extra k=v,k=v spark conf")
    args = ap.parse_args()

    from geektime_bigdata_spark import get_spark
    import __spark_entry__ as entrymod

    extra = {}
    for kv in filter(None, args.conf.split(",")):
        k, _, v = kv.partition("=")
        extra[k] = v
    spark = get_spark(app_name="gbs-profile", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    names = args.names.split(",")
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    warm_dir = os.path.join(
        os.path.dirname(args.sf.rstrip("/")), "sf0.001"
    )
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for name in names:
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        run(queries[name](spark, warm_dir))  # codegen warm at tiny sf
        run(queries[name](spark, args.sf))  # cache/memo warm at target sf
        plan_file = None
        if args.plans:
            plan_file = os.path.join(
                args.plans, f"{name}{args.suffix}.txt"
            )
            df = queries[name](spark, args.sf)
            with open(plan_file, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ))
        tracker = spark.sparkContext.statusTracker()
        group = f"profile-{name}"
        secs, cpus = [], []
        spark.sparkContext.setJobGroup(group, group)
        try:
            for _ in range(args.reps):
                c0 = _tree_cpu_seconds()
                t0 = time.perf_counter()
                spark.sparkContext.setJobDescription(f"profile: {name}")
                run(queries[name](spark, args.sf))
                secs.append(round(time.perf_counter() - t0, 3))
                cpus.append(round(max(_tree_cpu_seconds() - c0, 0.0), 2))
        finally:
            spark.sparkContext.setJobGroup(None, None)
        warm_jobs = len(tracker.getJobIdsForGroup(group)) // max(args.reps, 1)
        print(
            json.dumps(
                {
                    "name": name,
                    "warm_jobs": warm_jobs,
                    "secs": secs,
                    "cpu": cpus,
                    "plan_file": plan_file,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
