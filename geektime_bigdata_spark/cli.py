"""Command-line entry point — the engine's analogue of the reference's
per-homework ``main()`` classes (Main.java:19, InvertedMain.scala:10,
DistCopyMain.scala:16): every registered query is runnable, explainable,
and timeable from a shell.

    python -m geektime_bigdata_spark list
    python -m geektime_bigdata_spark run q1_pricing_summary --sf-dir /root/testdata/sf0.01
    python -m geektime_bigdata_spark explain q5_local_supplier_volume
    python -m geektime_bigdata_spark bench
    python -m geektime_bigdata_spark profile word_counts q5_local_supplier_volume --reps 3
    python -m geektime_bigdata_spark publish --out /tmp/corpus_out

``publish`` is the end-to-end curation JOB (quality -> near-dup
clusters -> representative selection -> language-partitioned parquet
corpus + per-language JSON summary) — the write path a training-data
run actually executes, not just a query returning rows. Deterministic:
re-running over the same input produces the same partition layout and
summary, and the final line is one JSON object for machine consumption.

``profile`` warms each named query, runs it ``--reps`` times under
:func:`geektime_bigdata_spark.profile.profile` and prints one JSON line
per query: the last rep's record plus each rep's wall, tree CPU and
``build_s`` — the part of the wall spent before the action, until the
query callable returns its DataFrame (driver time outside jobs).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def _default_sf_dir() -> str:
    # same env var the bench surface honors (SPARK_GRAFT_SF_DIR), so a
    # shell exporting it once drives every CLI subcommand and bench at
    # the same scale; --sf-dir still overrides per invocation
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _add_sf_dir(parser: argparse.ArgumentParser) -> None:
    parser.add_argument(
        "--sf-dir",
        default=_default_sf_dir(),
        help="data dir (default: $SPARK_GRAFT_SF_DIR if set, else the sf0.01 testdata)",
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="geektime_bigdata_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    p_run = sub.add_parser("run", help="run a query and show rows")
    p_run.add_argument("name")
    _add_sf_dir(p_run)
    p_run.add_argument("--limit", type=int, default=20)

    p_exp = sub.add_parser("explain", help="print the formatted physical plan")
    p_exp.add_argument("name")
    _add_sf_dir(p_exp)

    sub.add_parser(
        "bench", help="run the headline bench (record line, then summary line)"
    )

    p_prof = sub.add_parser(
        "profile", help="profile queries warm: one JSON record per query"
    )
    p_prof.add_argument("names", nargs="+")
    _add_sf_dir(p_prof)
    p_prof.add_argument("--reps", type=int, default=3)

    p_pub = sub.add_parser(
        "publish",
        help="run the curation job: partitioned corpus + summary sink",
    )
    _add_sf_dir(p_pub)
    p_pub.add_argument("--out", required=True)

    args = ap.parse_args(argv)

    if args.cmd == "publish":
        import json

        from geektime_bigdata_spark import get_spark
        from geektime_bigdata_spark.operators.pipeline import run_curation_job

        spark = get_spark(app_name="gbs-cli-publish")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        stats = run_curation_job(spark, args.sf_dir, args.out)
        print(
            json.dumps(
                {
                    "job": "publish",
                    "sf_dir": args.sf_dir,
                    "out": args.out,
                    **stats,
                    "sec": round(time.perf_counter() - t0, 2),
                }
            )
        )
        return 0

    if args.cmd == "bench":
        import bench

        bench.main()
        return 0

    queries = _queries()
    if args.cmd == "list":
        for name in sorted(queries):
            print(name)
        return 0

    names = args.names if args.cmd == "profile" else [args.name]
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown query {unknown[0]!r}; see `list`", file=sys.stderr)
        return 2

    from geektime_bigdata_spark import get_spark
    from geektime_bigdata_spark.plans import explain_str

    spark = get_spark(app_name=f"gbs-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "profile":
        _profile(spark, queries, names, args.sf_dir, args.reps)
        return 0
    df = queries[args.name](spark, args.sf_dir)
    if args.cmd == "explain":
        print(explain_str(df, "formatted"))
    else:
        t0 = time.perf_counter()
        df.show(args.limit, truncate=False)
        print(
            f"[{args.name}] {df.count()} rows,"
            f" {time.perf_counter() - t0:.2f}s at {args.sf_dir}"
        )
    return 0


def _profile(spark, queries, names, sf_dir, reps) -> None:
    import json

    from geektime_bigdata_spark.profile import _tree_cpu_seconds, profile

    for name in names:
        walls, cpus, builds = [], [], []

        def timed(query=queries[name]) -> None:
            c0, t0 = _tree_cpu_seconds(), time.perf_counter()
            df = query(spark, sf_dir)
            builds.append(round(time.perf_counter() - t0, 3))
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            c1 = _tree_cpu_seconds()  # None where /proc is unreadable
            cpus.append(None if None in (c0, c1) else round(max(c1 - c0, 0.0), 2))

        timed()  # warm: memo fills, codegen; not reported
        for _ in range(max(reps, 1)):
            record = profile(spark, timed)
        print(json.dumps({"name": name, "sf_dir": sf_dir, **record,
                          "wall_s": walls[1:], "cpu_s": cpus[1:],
                          "build_s": builds[1:]}), flush=True)


if __name__ == "__main__":
    raise SystemExit(main())
