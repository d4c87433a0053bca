"""Golden unit fixtures from the reference (FIXTURES.md §F-A..F-E):
tiny hand-verifiable inputs whose outputs the reference's own code/README
pins down. These assert *semantics*, independent of the synthetic testdata.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geektime_bigdata_spark.sources.textio import (
    TRAFFIC_SCHEMA,
    read_traffic_log,
    traffic_stats,
    write_tsv,
)


def _inverted_corpus(spark):
    # InvertedMain.scala:12 verbatim corpus
    return spark.createDataFrame(
        [("it is what it is", 0), ("what is it", 1), ("it is a banana", 2)],
        "text string, doc_id int",
    )


def test_inverted_index_golden(spark):
    """FIXTURES.md F-B variant 1 (InvertedMain.scala:13-19)."""
    df = _inverted_corpus(spark)
    got = {
        r["word"]: r["docs"]
        for r in df.select(
            F.explode(F.split("text", " ")).alias("word"), "doc_id"
        )
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .collect()
    }
    assert got == {
        "it": [0, 1, 2],
        "is": [0, 1, 2],
        "what": [0, 1],
        "a": [2],
        "banana": [2],
    }


def test_posting_list_tf_golden(spark):
    """FIXTURES.md F-B variant 2 (InvertedMain.scala:22-29)."""
    df = _inverted_corpus(spark)
    tf = (
        df.select(F.explode(F.split("text", " ")).alias("word"), "doc_id")
        .groupBy("word", "doc_id")
        .count()
    )
    got = {
        r["word"]: [(p["doc_id"], p["count"]) for p in r["postings"]]
        for r in tf.groupBy("word")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "count"))).alias(
                "postings"
            )
        )
        .collect()
    }
    assert got == {
        "it": [(0, 2), (1, 1), (2, 1)],
        "is": [(0, 2), (1, 1), (2, 1)],
        "what": [(0, 1), (1, 1)],
        "a": [(2, 1)],
        "banana": [(2, 1)],
    }


def test_traffic_log_golden(spark, tmp_path):
    """FIXTURES.md F-A: homework-1 job on a 5-row micro log with
    hand-computed sums, through the real text source/sink (S1/S2)."""
    line = "1363157985066\t{phone}\t00-FD-07-A4-72-B8:CMCC\t120.196.100.82\ti02.c.aliimg.com\t\t{pk}\t{up}\t{down}\tx\ty\tz\t200"
    rows = [
        line.format(phone="13726230503", pk=24, up=100, down=200),
        line.format(phone="13726230503", pk=12, up=50, down=25),
        line.format(phone="13560439658", pk=2, up=10, down=20),
        line.format(phone="13726230503", pk=4, up=1, down=2),
        line.format(phone="13560439658", pk=3, up=5, down=5),
    ]
    src = tmp_path / "traffic.dat"
    src.write_text("\n".join(rows) + "\n")
    df = read_traffic_log(spark, str(src))
    stats = {
        r["phone"]: (r["sum_up"], r["sum_down"], r["sum_total"])
        for r in traffic_stats(df).collect()
    }
    assert stats == {
        "13726230503": (151, 227, 378),
        "13560439658": (15, 25, 40),
    }
    # sink round-trip (S2): tab-separated lines, same row count
    out = tmp_path / "out"
    write_tsv(traffic_stats(df), str(out))
    back = spark.read.option("sep", "\t").csv(str(out))
    assert back.count() == 2
    assert len(back.columns) == 4


def test_hbase_student_prefix_scan_golden(spark):
    """FIXTURES.md F-C: the 4 HBase rows (HBaseClient.java:84-118) with
    the reference's reversed prefix scan (HBaseClient.java:63-68) —
    all 4 rows, row_key descending."""
    rows = [
        ("G20200579010831", "tome", "1", 75, 82),
        ("G20200579010832", "jerry", "1", 85, 67),
        ("G20200579010833", "jack", "2", 80, 80),
        ("G20200579010834", "phoenix", "2", 90, 90),
        ("X99999999999999", "other", "9", 0, 0),  # must be filtered out
    ]
    df = spark.createDataFrame(
        rows,
        "row_key string, name string, class string, understanding int, programming int",
    )
    got = (
        df.filter(F.col("row_key").startswith("G202005790"))
        .orderBy(F.col("row_key").desc())
        .select("row_key", "name")
        .collect()
    )
    assert [r["row_key"] for r in got] == [
        "G20200579010834",
        "G20200579010833",
        "G20200579010832",
        "G20200579010831",
    ]
    assert got[0]["name"] == "phoenix"


def test_rpc_lookup_golden(spark):
    """FIXTURES.md F-E: intended homework-2 lookup semantics
    (CallRpcImp.java:17-22 as the client test at client/Main.java:19-22
    expects): known key -> row, unknown key -> empty."""
    df = spark.createDataFrame(
        [("20210123456789", "心心")], "stu_id string, name string"
    )
    hit = df.filter(F.col("stu_id") == "20210123456789").collect()
    miss = df.filter(F.col("stu_id") == "20210000000000").collect()
    assert [r["name"] for r in hit] == ["心心"]
    assert miss == []


def test_null_comparison_empty_golden(spark):
    """FIXTURES.md F-D query 1 (homework-5/README.md:86): `id <> null`
    makes the whole query provably empty (README.md:280-287)."""
    df = spark.createDataFrame(
        [("1", "a", 20, "m"), ("2", "b", 30, "f")],
        "id string, name string, age int, sex string",
    )
    df.createOrReplaceTempView("student_golden")
    got = spark.sql(
        "select name from (select id, name, age from student_golden "
        "where age > 18 and id <> null) where age < 35"
    ).collect()
    assert got == []


def test_except_distinct_golden(spark):
    """FIXTURES.md F-D query 2 shape (homework-5/README.md:340): EXCEPT
    is DISTINCT set difference compiled to a left-anti join."""
    df = spark.createDataFrame(
        [("101", "a", 20, "m"), ("102", "b", 30, "f"), ("103", "c", 40, "f"),
         ("103", "c", 41, "f")],
        "id string, name string, age int, sex string",
    )
    df.createOrReplaceTempView("student_golden2")
    got = spark.sql(
        "select id, name, (100-10) as score from "
        "(select id, name from student_golden2 where age > 18 "
        " except select distinct id, name from student_golden2 where sex='m') "
        "where id > 100 order by score"
    ).collect()
    # 101 removed by EXCEPT (sex='m'); 103's duplicate collapses
    assert sorted((r["id"], r["name"], r["score"]) for r in got) == [
        ("102", "b", 90),
        ("103", "c", 90),
    ]


def test_dedup_clusters_fast_path_equals_label_propagation(
    spark, sf_dir, monkeypatch
):
    """The driver-side union-find fast path and the distributed
    label-propagation path must produce identical components (the
    size gate is an optimization, never a semantics change)."""
    from geektime_bigdata_spark.operators import dedup

    fast = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, sf_dir).collect()
    )
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    lp = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, sf_dir).collect()
    )
    assert fast == lp
def test_incremental_rollup_refresh_equals_full(spark, sf_dir):
    """Refreshing partials with the second half of the data must equal the
    full-batch rollup exactly (mergeable-state invariant)."""
    from pyspark.sql import functions as F

    from geektime_bigdata_spark.operators.etl import (
        hourly_rollup_partials,
        incremental_rollup_refresh,
    )
    from geektime_bigdata_spark.registry import table

    e = table(spark, sf_dir, "events")
    cutoff = e.agg(F.expr("percentile(cast(event_id AS DOUBLE), 0.5)")).collect()[0][0]
    first = e.filter(F.col("event_id") <= cutoff)
    second = e.filter(F.col("event_id") > cutoff)
    refreshed = incremental_rollup_refresh(hourly_rollup_partials(first), second)
    full = hourly_rollup_partials(e)
    a = sorted(tuple(map(str, r)) for r in refreshed.collect())
    b = sorted(tuple(map(str, r)) for r in full.collect())
    assert a == b


def test_run_curation_job_publishes(spark, sf_dir, tmp_path):
    """The job sink must publish exactly the kept docs, lang-partitioned,
    plus the summary — and re-reading the output must agree with the
    in-memory pipeline."""
    from pyspark.sql import functions as F

    from geektime_bigdata_spark.operators.pipeline import (
        curated_corpus,
        run_curation_job,
    )

    out = str(tmp_path / "publish")
    counts = run_curation_job(spark, sf_dir, out)
    expect = curated_corpus(spark, sf_dir).filter(F.col("keep") == 1).count()
    assert counts["n_kept"] == expect > 0
    back = spark.read.parquet(f"{out}/corpus")
    assert "lang" in back.columns  # partition column survives re-read
    assert back.count() == expect


def test_asof_tie_and_no_click_semantics(spark, tmp_path, monkeypatch):
    """As-of join edge cases, hand-computed: a click at EXACTLY the
    purchase timestamp counts (<= semantics, clicks sort before purchases
    on ties); a purchase with no prior click yields NULL/0."""
    import pandas as pd

    from geektime_bigdata_spark.operators import windows as W

    rows = [
        # user 1: click at 10:00, purchase at 10:00 (tie -> counts),
        #         purchase at 09:00 (no prior click)
        (1, 1, "click", "2024-01-01 10:00:00"),
        (2, 1, "purchase", "2024-01-01 10:00:00"),
        (3, 1, "purchase", "2024-01-01 09:00:00"),
        # user 2: clicks only
        (4, 2, "click", "2024-01-01 08:00:00"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts_s"]
    )
    df = spark.createDataFrame(pdf).select(
        "event_id", "user_id", "event_type",
        F.to_timestamp("ts_s").alias("ts"),
        F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.windows.table",
        lambda spark_, sf_dir_, name_: df,
    )
    out = {r["purchase_id"]: r for r in W.asof_last_click(spark, "x").collect()}
    assert set(out) == {2, 3}
    assert str(out[2]["last_click_ts"]) == "2024-01-01 10:00:00"
    assert out[2]["n_prior_clicks"] == 1
    assert out[3]["last_click_ts"] is None
    assert out[3]["n_prior_clicks"] == 0


def test_sessionize_gap_boundary(spark, monkeypatch):
    """An event at EXACTLY prev+30min stays in the same session (the rule
    is strict `>`); one second later starts a new one."""
    import pandas as pd

    from geektime_bigdata_spark.operators import windows as W

    rows = [
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:30:00"),  # == gap -> same session
        (3, 1, "2024-01-01 11:00:01"),  # > gap -> new session
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts_s"])
    df = spark.createDataFrame(pdf).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s").alias("ts"), F.lit(1.0).alias("value"),
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.windows.table",
        lambda *a: df,
    )
    out = sorted(
        (r["session_id"], r["n_events"])
        for r in W.sessionize(spark, "x").collect()
    )
    assert out == [(1, 2), (2, 1)]


def test_q13_counts_zero_order_customers(spark, monkeypatch):
    """Q13's left-outer join must keep customers with NO qualifying orders
    in the c_count=0 bucket (the synthetic data has none, so this path
    needs a fixture)."""
    from geektime_bigdata_spark.operators import tpch

    customer = spark.createDataFrame(
        [(1,), (2,), (3,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [(10, 1, "1-URGENT"), (11, 1, "5-LOW"), (12, 2, "5-LOW")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    tables = {"customer": customer, "orders": orders}
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.tpch.table",
        lambda spark_, sf_, name: tables[name],
    )
    out = {
        r["c_count"]: r["custdist"]
        for r in tpch.q13_customer_distribution(spark, "x").collect()
    }
    # cust 1 -> 1 non-LOW order; cust 2 -> only LOW (c_count 0); cust 3 -> 0
    assert out == {1: 1, 0: 2}


def test_incremental_ingest_dedup_all_statuses(spark, monkeypatch):
    """All three admission outcomes in one batch: new, dup_existing, and
    dup_in_batch (first-wins within the batch)."""
    from geektime_bigdata_spark.operators import etl

    docs = spark.createDataFrame(
        [
            # existing corpus (src1): text prefix "a b c d e"
            (1, "a b c d e old tail", "src1"),
            # incoming batch (src0)
            (10, "a b c d e new tail", "src0"),   # dup_existing
            (11, "x y z w v unique", "src0"),     # new (first for its fp)
            (12, "x y z w v other tail", "src0"), # dup_in_batch (same prefix)
        ],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.etl.table", lambda *a: docs
    )
    out = {
        r["doc_id"]: r["status"]
        for r in etl.incremental_ingest_dedup(spark, "x").collect()
    }
    assert out == {10: "dup_existing", 11: "new", 12: "dup_in_batch"}


def test_upsert_latest_event_id_tiebreak(spark, monkeypatch):
    """Two writes with the SAME timestamp: the higher event_id wins (the
    deterministic tiebreak; real data never ties so this needs a
    fixture)."""
    import pandas as pd

    from geektime_bigdata_spark.operators import relational

    pdf = pd.DataFrame(
        [
            (1, 1, "click", "2024-01-01 10:00:00", 1.0),
            (2, 1, "click", "2024-01-01 10:00:00", 2.0),  # same ts, higher id
        ],
        columns=["event_id", "user_id", "event_type", "ts_s", "value"],
    )
    df = spark.createDataFrame(pdf).select(
        "event_id", "user_id", "event_type",
        F.to_timestamp("ts_s").alias("ts"), "value",
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.relational.table", lambda *a: df
    )
    rows = relational.upsert_latest(spark, "x").collect()
    assert len(rows) == 1 and rows[0]["event_id"] == 2


def test_dedup_clusters_chain_component(spark, monkeypatch):
    """Transitive closure through a chain (a-b, b-c, plus an isolated
    pair and a singleton): both the union-find fast path and label
    propagation must label the whole chain with its minimum doc_id."""
    from geektime_bigdata_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8, 9)], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (7, 8)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.table", lambda *a: docs
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.ngram_jaccard_pairs",
        lambda *a, **k: edges,
    )
    expect = [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)]
    for limit in (dedup.SMALL_GRAPH_EDGES, 0):
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", limit)
        got = sorted(
            tuple(r) for r in dedup.dedup_clusters(spark, "x").collect()
        )
        assert got == expect, limit


def test_pagerank_fast_path_equals_distributed(spark, sf_dir, monkeypatch):
    """The driver-side PageRank fast path must be BIT-identical to the
    distributed join+aggregate loop (both run the same quantized IEEE
    recurrence)."""
    from geektime_bigdata_spark.operators import dedup

    fast = sorted(
        tuple(r) for r in dedup.neardup_pagerank(spark, sf_dir).collect()
    )
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    dist = sorted(
        tuple(r) for r in dedup.neardup_pagerank(spark, sf_dir).collect()
    )
    assert fast == dist and fast


def test_asof_cogroup_equals_native(spark, sf_dir):
    """The cogrouped-pandas as-of implementation must match the native
    window formulation row-for-row (two independent engines for the
    same semantics)."""
    from geektime_bigdata_spark.operators.windows import (
        asof_last_click,
        asof_last_click_cogroup,
    )

    native = sorted(
        tuple(r) for r in asof_last_click(spark, sf_dir).collect()
    )
    cog = sorted(
        tuple(r) for r in asof_last_click_cogroup(spark, sf_dir).collect()
    )
    assert native == cog and native


def test_dedup_clusters_long_chain_beats_diameter(spark, monkeypatch):
    """A 64-node path graph has diameter 63: one-hop label propagation
    would need 63 rounds, but the large-star/small-star scheme must
    converge within a LOGARITHMIC budget (8 rounds here) and still label
    the whole chain with its minimum."""
    from geektime_bigdata_spark.operators import dedup

    n = 64
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.table", lambda *a: docs
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.ngram_jaccard_pairs",
        lambda *a, **k: edges,
    )
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    got = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, "x", max_iter=8).collect()
    )
    assert got == [(i, 0) for i in range(n)]

def test_kcore_driver_peel_bounded_like_oracle(spark, monkeypatch):
    """The driver fast path must mirror the oracle's bounded unroll:
    a 20-node path with k=2 fully peels only after 10 rounds, so at
    max_rounds=8 BOTH execution paths raise instead of silently
    out-converging the 8-peel DuckDB oracle (ADVICE r3)."""
    import pytest as _pytest

    from geektime_bigdata_spark.operators import dedup

    n = 20
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.ngram_jaccard_pairs",
        lambda *a, **k: edges,
    )
    default = dedup.SMALL_GRAPH_EDGES
    for limit in (default, 0):
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", limit)
        with _pytest.raises(RuntimeError, match="did not converge"):
            dedup.neardup_kcore(spark, "x", k=2, max_rounds=8)
    # with enough rounds the same graph converges (to the empty core)
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", default)
    assert (
        dedup.neardup_kcore(spark, "x", k=2, max_rounds=12).count() == 0
    )


def test_rcte_dense_component_guard(spark, monkeypatch):
    """neardup_reach_rcte pre-counts chains with a node-indexed DP and
    converge-or-raises on dense components (VERDICT r3 #4): a 20-node
    clique (190 oriented edges, ~785k chains under depth 10) completes
    under the default budget, and raises cleanly — before materializing
    any path — once the budget is below the exact chain count."""
    import pytest as _pytest

    from geektime_bigdata_spark.operators import dedup

    n = 20
    edges = spark.createDataFrame(
        [(i, j) for i in range(n) for j in range(i + 1, n)],
        "doc_a long, doc_b long",
    )
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.ngram_jaccard_pairs",
        lambda *a, **k: edges,
    )
    out = dedup.neardup_reach_rcte(spark, "x")
    # every non-terminal node reaches all higher-numbered nodes
    rows = {r["doc_id"]: r["n_reachable"] for r in out.collect()}
    assert rows[0] == n - 1 and rows[n - 2] == 1
    monkeypatch.setattr(
        "geektime_bigdata_spark.operators.dedup.RCTE_PATH_BUDGET", 1000
    )
    with _pytest.raises(RuntimeError, match="dense candidate graph"):
        dedup.neardup_reach_rcte(spark, "x")
