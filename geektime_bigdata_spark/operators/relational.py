"""Relational core: the reference's scan/project/filter/aggregate surface.

Reference parity map (SURVEY.md §2):

- ``flow_stats``      — homework-1 MapReduce traffic job (Main.java:19-36,
                        MyMapper.java:20-32, MyReduce.java:20-31): ops
                        S1/P1/P2/A1/S2 as one DataFrame chain.
- ``null_filter_empty`` — homework-5 query 1 (README.md:86): nested
                        filter/project with ``id <> null`` NULL semantics;
                        Catalyst prunes the whole plan to empty
                        (README.md:266-287). Op F1/P3.
- ``cast_filter``     — ``cast(id as int) > 100`` (README.md:359). Op F2/X3.
- ``const_score_order`` — ``(100-10) as score ... order by score``
                        (README.md:340,358): ConstantFolding + ORDER BY.
                        Ops P4/O1.
- ``distinct_pairs``  — ``select DISTINCT id,name`` -> Aggregate rewrite
                        (README.md:52-57,410-422). Op A5.
- ``except_anti``     — homework-5 query 2's EXCEPT -> left-anti join with
                        null-safe keys (README.md:59-67,395-407). Ops O3/J1.
- ``student_q2``      — homework-5 query 2 verbatim shape (README.md:340):
                        EXCEPT + cast-filter + constant column + ORDER BY.
- ``prefix_scan_desc`` — homework-3 HBase reversed prefix scan
                        (HBaseClient.java:63-68). Ops S4/F3/O2.
- ``point_lookup``    — homework-2 RPC lookup *intended* semantics
                        (CallRpcImp.java:17-22; the reference's predicate is
                        unsatisfiable — we implement the intent, not the
                        bug). Op F4.

Scale notes: every aggregate here plans as partial+final HashAggregate
(map-side combine), strictly better than the reference MR job which
registers no combiner (Main.java:22-28). Filters/projections reach the
parquet scan via pushdown/pruning — verified by plan-shape tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import exact_sum, grid_round
from geektime_bigdata_spark.registry import table


def flow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user traffic rollup — homework-1's phone-traffic job re-hosted on
    ``events`` (user_id ≈ phone; 'click' value ≈ upstream bytes, 'view'
    value ≈ downstream bytes).

    Single shuffle on ``user_id``; conditional sums are map-side partial
    aggregates so the shuffle carries one row per (partition, user).
    """
    events = table(spark, sf_dir, "events")
    up = F.when(F.col("event_type") == "click", F.col("value")).otherwise(F.lit(0.0))
    down = F.when(F.col("event_type") == "view", F.col("value")).otherwise(F.lit(0.0))
    return (
        events.select("user_id", up.alias("up"), down.alias("down"))
        .groupBy("user_id")
        .agg(
            # exact_sum: order-independent decimal accumulation at the
            # hashed contract edge (see functions.exprs.exact_sum)
            grid_round(exact_sum("up"), 6).alias("sum_up"),
            grid_round(exact_sum("down"), 6).alias("sum_down"),
            grid_round(exact_sum(F.col("up") + F.col("down")), 6).alias("sum_total"),
        )
    )


def null_filter_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homework-5 query 1 shape on ``customer``: the ``<> NULL`` predicate is
    never true under SQL three-valued logic, so the result is provably empty
    — Catalyst folds it via NullPropagation -> ReplaceNullWithFalseInPredicate
    -> PruneFilters -> LocalRelation <empty> (README.md:266-287)."""
    c = table(spark, sf_dir, "customer")
    inner = c.filter(
        (F.col("c_acctbal") > 18) & (F.col("c_custkey") != F.lit(None))
    ).select("c_custkey", "c_name", "c_acctbal")
    return inner.filter(F.col("c_acctbal") < 35).select("c_name")


def cast_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter through an explicit cast (README.md:359): treat the numeric key
    as a string column and cast it back — exercises X3 cast semantics."""
    c = table(spark, sf_dir, "customer")
    return (
        c.select(F.col("c_custkey").cast("string").alias("id"), "c_name")
        .filter(F.col("id").cast("int") > 100)
        .select("id", "c_name")
    )


def const_score_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant expression column + global ORDER BY (README.md:340,358).
    ConstantFolding turns (100-10) into literal 90; FoldablePropagation then
    lets EliminateSorts drop the constant sort (README.md:500-516,670-680) —
    we keep a real tiebreak column so the output order is deterministic."""
    c = table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_name",
            (F.lit(100) - F.lit(10)).cast("int").alias("score"),
        )
        .orderBy("score", "c_custkey")
    )


def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection -> ReplaceDistinctWithAggregate (README.md:52-57).
    Uses (c_nationkey, c_mktsegment) so the distinct actually removes rows."""
    c = table(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


def except_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) of two subqueries -> ReplaceExceptWithAntiJoin with
    null-safe ``<=>`` join keys (README.md:59-67,395-407): customers with
    acctbal > 0 except those in the BUILDING segment."""
    c = table(spark, sf_dir, "customer")
    left = c.filter(F.col("c_acctbal") > 0).select("c_custkey", "c_name")
    right = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name"
    )
    return left.exceptAll(right).distinct()


def student_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homework-5 query 2 (README.md:340) re-hosted on ``customer``:

        select id, name, (100-10) as score
        from (select id,name from t where age>18
              except select distinct id,name from t where sex='m')
        where id > 100 order by score

    Exercises EXCEPT->anti-join, DISTINCT->aggregate, cast-filter on the
    outer id, constant folding, and ORDER BY in one plan."""
    c = table(spark, sf_dir, "customer")
    left = c.filter(F.col("c_acctbal") > 18).select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    right = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
        .distinct()
    )
    return (
        left.exceptAll(right)
        .distinct()
        .filter(F.col("id").cast("int") > 100)
        .select("id", "name", (F.lit(100) - F.lit(10)).cast("int").alias("score"))
        .orderBy("score", "id")
    )


def upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: HBase-style point-write/upsert semantics modeled as
    append + dedup-by-key (SURVEY.md §2.1): the latest write per
    (user_id, event_type) key wins — HBase keeps maxVersions(3) per cell
    (HBaseClient.java:131-139) and reads the newest (getNoVersionMap,
    HBaseClient.java:73); this is the newest-version read over an
    append-only log, the standard lakehouse compaction pattern.

    One window shuffle on the key; at scale this is the periodic MERGE
    compaction job run per partition of the log."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "value", "event_id")
    )


def sql_catalog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: the catalog-resolved SQL entry point (homework-5's
    spark-sql surface — UnresolvedRelation -> catalog binding,
    README.md:126-137): query written as SQL text over the tables bound
    as DataFrame arguments (per-call view names, so concurrent calls on
    different ``sf_dir`` never read each other's tables), same Catalyst
    pipeline as the DataFrame API."""
    return spark.sql(
        """
        SELECT n.n_name, count(*) AS n_orders,
               -- micro-unit accumulation: order-independent sum at the
               -- hashed contract edge (see functions.exprs.exact_sum)
               round(CAST(sum(CAST(floor(o.o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS total_price
        FROM {orders} o
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
        """,
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
        nation=table(spark, sf_dir, "nation"),
    )


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: ROLLUP over (returnflag, linestatus) — subtotal rows
    carry NULL group keys; lvl is the grouping_id bitmask. Catalyst plans
    rollup as an Expand + single aggregate (one shuffle, not one per
    grouping set)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            grid_round(exact_sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping_id().cast("long").alias("lvl"),
        )
    )


def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: CUBE over (orderstatus, orderpriority) — all four
    grouping sets in one Expand + one aggregate shuffle (4 rows per input
    row into a partial aggregate, so the exchange still carries only
    group keys)."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        grid_round(exact_sum("o_totalprice"), 4).alias("total"),
        F.grouping_id().cast("long").alias("lvl"),
    )


def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: explicit GROUPING SETS ((status), (priority), ()) —
    the irregular-set sibling of rollup/cube; Catalyst plans the same
    Expand + one aggregate shuffle (3 rows per input into a partial
    aggregate), so adding sets never adds shuffles. lvl is the
    PostgreSQL-compatible grouping bitmask (first column = MSB), which
    Spark and DuckDB agree on."""
    o = table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        grid_round(exact_sum("o_totalprice"), 4).alias("total"),
        F.grouping_id().cast("long").alias("lvl"),
    )


def prefix_scan_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homework-3's reversed prefix scan (HBaseClient.java:63-68):
    ``PrefixFilter('G202005790') + setReversed(true)`` becomes a
    ``startswith`` predicate + descending sort. The prefix predicate
    compiles to a StartsWith pushed to the parquet scan."""
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_name").startswith("Customer#00000001"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy(F.col("c_name").desc())
    )


def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homework-2's RPC lookup, intended semantics (CallRpcImp.java:17-22):
    equality point-get by key, empty result for unknown keys. A single
    pushed-down equality predicate — at scale this is a partition- or
    bucket-prunable probe, not a scan."""
    c = table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select("c_custkey", "c_name")


def versioned_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 companion — HBase ``maxVersions(3)`` cell semantics
    (HBaseClient.java:131-139): keep the 3 newest writes per
    (user_id, event_type) cell, tagged with a version index (1 = newest,
    matching HBase's newest-first cell order). One window shuffle on the
    cell key; at scale this is the read-side filter a versioned KV view
    applies over the append-only log (and the compaction predicate that
    expires older versions)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("version", F.row_number().over(w).cast("long"))
        .filter(F.col("version") <= 3)
        .select("user_id", "event_type", "version", "ts", "value", "event_id")
    )


def sql_udf_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog SQL UDF (Spark 4.1 ``CREATE FUNCTION ... RETURN expr``):
    the micro-grid rounding contract registered ONCE as a named
    catalog function and applied in plain SQL — the governance story
    for the determinism rules (a shared UDF every team query calls,
    instead of each query hand-expanding the floor/scale idiom).
    Declarative body = Catalyst inlines it like a macro: no Python, no
    serialization, full codegen — unlike ``spark.udf.register``. The
    DuckDB oracle expands the same expression inline."""
    if not spark.catalog.functionExists("gbs_grid6"):
        # once per session; two threads racing past the check both
        # create it, which is harmless because the statement replaces
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION gbs_grid6(x DOUBLE) "
            "RETURNS DOUBLE RETURN floor(x * 1000000.0 + 0.5) / 1000000.0"
        )
    return spark.sql(
        """
        SELECT lang,
               count(*) AS n_docs,
               gbs_grid6(sum(n_chars) / count(*)) AS avg_chars,
               gbs_grid6(sum(length(text)) / count(*)) AS avg_text_len
        FROM {documents}
        GROUP BY lang
        """,
        documents=table(spark, sf_dir, "documents"),
    )


PIPE_VALUE_THRESHOLD = 50.0


def event_type_stats_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.x ``|>``) + named parameter markers:
    the linear FROM -> WHERE -> AGGREGATE chain that reads in
    execution order, with the filter threshold bound as a typed named
    argument (``:thr``) instead of string interpolation — the
    injection-safe form a query service uses. Same plan as the
    equivalent SELECT (pipe syntax is pure surface syntax); the micro-
    unit sum keeps the hashed edge integer."""
    return spark.sql(
        """
        FROM {events}
        |> WHERE value > :thr
        |> AGGREGATE count(*) AS n,
                     sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                         AS sum_value_micros
           GROUP BY event_type
        """,
        args={"thr": PIPE_VALUE_THRESHOLD},
        events=table(spark, sf_dir, "events"),
    )
