"""Property-based tests (hypothesis) over in-memory corpora: operator
invariants that must hold for ANY input, not just the fixtures."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import shingles, tokens

WORDS = st.sampled_from(["a", "bb", "ccc", "dd", "e", "fff", "gg"])
DOC = st.lists(WORDS, min_size=0, max_size=12).map(" ".join)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(DOC, min_size=1, max_size=6))
def test_inverted_index_roundtrip(spark, texts):
    """Every (word, doc) posting must correspond to the word actually
    appearing in that doc, and cover all occurrences."""
    df = _docs_df(spark, texts)
    postings = (
        df.select("doc_id", F.explode_outer(tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .collect()
    )
    for r in postings:
        for d in r["docs"]:
            assert r["word"] in texts[d].split(" ")
    # completeness: every token of every doc is indexed
    indexed = {r["word"] for r in postings}
    for t in texts:
        for w in t.split(" "):
            if w:
                assert w in indexed


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(DOC, min_size=1, max_size=6))
def test_shingle_count_invariant(spark, texts):
    """A doc with n>=3 tokens has between 1 and n-2 distinct 3-shingles;
    fewer tokens -> zero shingles."""
    df = _docs_df(spark, texts).select(
        "doc_id", tokens().alias("toks")
    ).select("doc_id", F.size("toks").alias("n"), shingles().alias("sh"))
    for r in df.collect():
        if r["n"] >= 3:
            assert 1 <= len(r["sh"]) <= r["n"] - 2
        else:
            assert r["sh"] == []


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=20,
    )
)
def test_running_sum_last_equals_total(spark, vals):
    """The final row of a cumulative window equals the plain sum."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i int, v double"
    )
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    last = (
        df.select(F.sum("v").over(w).alias("run"), "i")
        .orderBy(F.col("i").desc())
        .first()["run"]
    )
    total = df.agg(F.sum("v")).first()[0]
    assert abs(last - total) < 1e-9


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1,
        max_size=30,
    )
)
def test_exact_dedup_partitions_input(spark, rows):
    """Dedup groups partition the input: group sizes sum to row count and
    each keeper is the min id of its group."""
    df = spark.createDataFrame(
        [(i, f"text-{k}") for i, (k, _) in enumerate(rows)],
        "doc_id int, text string",
    )
    groups = (
        df.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("n"))
        .collect()
    )
    assert sum(g["n"] for g in groups) == len(rows)
    by_text = {}
    for i, (k, _) in enumerate(rows):
        by_text.setdefault(f"text-{k}", []).append(i)
    keeps = {min(v) for v in by_text.values()}
    assert {g["keep"] for g in groups} == keeps


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=7200),   # seconds offset
            st.booleans(),                              # purchase?
        ),
        min_size=0,
        max_size=25,
    )
)
def test_bucket_range_join_equals_naive(spark, events):
    """The 2-bucket-probe range join must return EXACTLY the pairs of the
    naive non-equi join for ANY event layout (the pigeonhole argument:
    a preceding-hour click falls in the purchase's hour bucket or the
    one before). Validates the technique generically, not just on the
    fixture data."""
    rows = [
        (i, u, f"2024-01-01 00:00:00", s, p)
        for i, (u, s, p) in enumerate(events)
    ]
    df = spark.createDataFrame(
        [(i, u, s, p) for i, u, _, s, p in rows],
        "event_id long, user_id long, off long, is_purchase boolean",
    ).select(
        "event_id",
        "user_id",
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,off)").alias("ts"),
        "is_purchase",
    )
    purchases = df.filter("is_purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = df.filter("NOT is_purchase").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.date_trunc("hour", "ts").alias("bucket"),
    )
    in_window = (
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    naive = (
        purchases.join(
            clicks.drop("bucket"),
            (F.col("user_id") == F.col("c_user")) & in_window,
        )
        .select("purchase_id", "c_ts")
        .collect()
    )
    probes = purchases.withColumn(
        "bucket",
        F.explode(F.array(
            F.date_trunc("hour", "p_ts"),
            F.date_trunc("hour", "p_ts") - F.expr("INTERVAL 1 HOUR"),
        )),
    )
    bucketed = (
        probes.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (probes["bucket"] == clicks["bucket"])
            & in_window,
        )
        .select("purchase_id", "c_ts")
        .collect()
    )
    key = lambda r: (r["purchase_id"], str(r["c_ts"]))
    assert sorted(map(key, naive)) == sorted(map(key, bucketed))


@settings(max_examples=50, deadline=None)
@given(
    a=st.integers(min_value=0, max_value=(1 << 16) - 1),
    flips=st.lists(
        st.integers(min_value=0, max_value=15), min_size=0, max_size=3
    ),
)
def test_simhash_banding_is_recall_complete(a, flips):
    """Pigeonhole guarantee behind simhash_neardup_pairs: any pair of
    16-bit fingerprints within hamming distance 3 shares at least one of
    the 4 nibble bands, so band-bucketed candidate generation cannot miss
    a pair at threshold <= 3 (the operator uses threshold 2)."""
    b = a
    for j in flips:
        b ^= 1 << j
    hamming = bin(a ^ b).count("1")
    shares_band = any(
        (a >> (4 * k)) & 15 == (b >> (4 * k)) & 15 for k in range(4)
    )
    if hamming <= 3:
        assert shares_band


FLOATS = st.floats(
    min_value=-1e5,
    max_value=1e5,
    allow_nan=False,
    allow_infinity=False,
    width=64,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(FLOATS, min_size=1, max_size=40),
    nparts=st.integers(min_value=1, max_value=7),
)
def test_exact_sum_three_engine_equivalence(spark, vals, nparts):
    """The micro-unit sum contract must yield the BIT-IDENTICAL double in
    Spark (any partitioning), DuckDB (the mirrored SQL), and plain
    Python — for arbitrary inputs, not just fixtures. This is the
    property every hashed contract edge in the repo leans on."""
    import math

    import duckdb
    import pandas as pd

    from geektime_bigdata_spark.functions import exact_sum

    expected = sum(math.floor(v * 1e6 + 0.5) for v in vals) / 1e6

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = (
        df.repartition(nparts).agg(exact_sum("v").alias("s")).collect()
    )[0]["s"]

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"v": vals}))
    got_duck = con.execute(
        "SELECT CAST(sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))"
        " AS DOUBLE) / 1000000.0 FROM t"
    ).fetchone()[0]
    con.close()

    assert got_spark == expected == got_duck, (vals, nparts)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user_id (few users)
            st.integers(min_value=0, max_value=20),  # second offset (ties!)
            st.booleans(),                           # is purchase
        ),
        min_size=1,
        max_size=25,
    )
)
def test_asof_native_equals_cogroup(spark, tmp_path_factory, events):
    """The native window as-of join and the cogroup-pandas merge-asof
    must agree EXACTLY on arbitrary event layouts — including multiple
    events on the same (user, second), the tie case the shared oracle's
    fixture data rarely exercises (<= semantics: a click at exactly the
    purchase instant counts; event_id breaks remaining ties)."""
    import datetime as dt

    from geektime_bigdata_spark.operators.windows import (
        asof_last_click,
        asof_last_click_cogroup,
    )

    base = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (
            i,
            base + dt.timedelta(seconds=off),
            u,
            "purchase" if is_p else "click",
            0.0,
            "{}",
        )
        for i, (u, off, is_p) in enumerate(events)
    ]
    d = tmp_path_factory.mktemp("asof")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    native = sorted(
        map(tuple, asof_last_click(spark, str(d)).collect())
    )
    cogroup = sorted(
        map(tuple, asof_last_click_cogroup(spark, str(d)).collect())
    )
    assert native == cogroup, (native, cogroup)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),     # user_id
            st.integers(min_value=0, max_value=7200),  # second offset
        ),
        min_size=1,
        max_size=20,
    )
)
def test_sessionize_agrees_with_native_session_window(
    spark, tmp_path_factory, events
):
    """The lag+cumsum sessionizer and Spark's native session_window are
    two implementations of the same 30-minute-gap semantics — on ANY
    event layout they must carve identical sessions: same per-user
    session count, same per-session sizes, same micro-value sums.
    Random offsets land events exactly ON the 1800s boundary too (gap
    must be STRICTLY greater to split — `>` in the lag test, which
    session_window mirrors by closing at last+gap exclusive)."""
    import datetime as dt

    from geektime_bigdata_spark.operators.windows import (
        session_window_rollup,
        sessionize,
    )

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=off), u, "view", float(i % 7) / 4, "{}")
        for i, (u, off) in enumerate(events)
    ]
    d = tmp_path_factory.mktemp("sess")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    ours = sorted(
        (r["user_id"], r["n_events"], r["session_value_micros"])
        for r in sessionize(spark, str(d)).collect()
    )
    native = sorted(
        (
            r["user_id"],
            r["n_events"],
            int(round(r["session_value"] * 1e6)),
        )
        for r in session_window_rollup(spark, str(d)).collect()
    )
    assert ours == native, (ours, native)


def test_session_gap_boundary_inclusive(spark, tmp_path):
    """Events exactly 1800s apart stay in ONE session on BOTH
    implementations (the lag test splits only on STRICTLY greater than
    the gap; native session_window merges an event landing exactly on
    the window end) — pinned deterministically because random offsets
    rarely hit the knife-edge."""
    import datetime as dt

    from geektime_bigdata_spark.operators.windows import (
        session_window_rollup,
        sessionize,
    )

    base = dt.datetime(2024, 6, 1)
    rows = [
        (1, base, 7, "view", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=1800), 7, "view", 1.0, "{}"),
        (3, base + dt.timedelta(seconds=3601), 7, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    ours = sorted(
        (r["n_events"],) for r in sessionize(spark, str(tmp_path)).collect()
    )
    native = sorted(
        (r["n_events"],)
        for r in session_window_rollup(spark, str(tmp_path)).collect()
    )
    # events 1+2 merge (gap == 1800 exactly); event 3 is 1801s later -> new
    assert ours == native == [(1,), (2,)]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "lime", "gray", "teal"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
def test_cc_distributed_equals_driver_unionfind(
    spark, tmp_path_factory, docs
):
    """The star-scheme distributed connected components and the driver
    union-find fast path must label ANY near-dup graph identically —
    the size gate may never change an answer. Tiny vocab forces dense
    shingle overlap, so random corpora produce real multi-node
    components (chains, cliques, singletons)."""
    from geektime_bigdata_spark.operators import dedup
    from geektime_bigdata_spark.operators.dedup import dedup_clusters

    d = tmp_path_factory.mktemp("cc")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    driver = sorted(
        map(tuple, dedup_clusters(spark, str(d)).collect())
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
        dist = sorted(map(tuple, dedup_clusters(spark, str(d)).collect()))
    assert driver == dist, (driver, dist)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "lime", "gray", "teal"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_pagerank_fast_path_equals_distributed(
    spark, tmp_path_factory, docs
):
    """The PageRank size-gated driver fast path and the distributed
    join+aggregate iteration must agree to the quantization grid on
    ANY dup graph (same contract as the CC gate)."""
    from geektime_bigdata_spark.operators import dedup
    from geektime_bigdata_spark.operators.dedup import neardup_pagerank

    d = tmp_path_factory.mktemp("pr")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    fast = sorted(map(tuple, neardup_pagerank(spark, str(d)).collect()))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
        dist = sorted(map(tuple, neardup_pagerank(spark, str(d)).collect()))
    assert fast == dist, (fast, dist)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1.0,
                max_value=1.0,
                allow_nan=False,
                width=32,
            ),
            min_size=1,
            max_size=16,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_norms_three_way_agreement(spark, tmp_path_factory, vecs):
    """The native expression fold (vec_norm), the pandas UDF, and the
    mapInArrow implementation must produce bit-identical grid-rounded
    L2 norms for ANY float32 vectors — three codepaths, one contract."""
    from geektime_bigdata_spark.functions import grid_round, vec_norm
    from geektime_bigdata_spark.operators.similarity import (
        embedding_norms_arrow,
        embedding_norms_pandas,
    )

    d = tmp_path_factory.mktemp("norms")
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    def rows(df):
        return sorted((r["vec_id"], repr(r["l2_norm"])) for r in df.collect())

    native = rows(
        spark.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", grid_round(vec_norm("embedding"), 6).alias("l2_norm")
        )
    )
    pandas_ = rows(embedding_norms_pandas(spark, str(d)))
    arrow = rows(embedding_norms_arrow(spark, str(d)))
    assert native == pandas_ == arrow, (native, pandas_, arrow)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "lime", "gray", "teal"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
def test_kcore_distributed_equals_driver_peel(spark, tmp_path_factory, docs):
    """The distributed k-core peel, the driver fast path, and an
    independent reference peel over the collected edge set must agree on
    ANY near-dup graph — the size gate may never change an answer, and
    every survivor must have within-core degree >= k."""
    from geektime_bigdata_spark.operators import dedup
    from geektime_bigdata_spark.operators.dedup import (
        KCORE_K,
        neardup_kcore,
        ngram_jaccard_pairs,
    )

    d = tmp_path_factory.mktemp("kcore")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    driver = sorted(map(tuple, neardup_kcore(spark, str(d)).collect()))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
        dist = sorted(map(tuple, neardup_kcore(spark, str(d)).collect()))
    assert driver == dist, (driver, dist)

    # reference peel over the same edge relation
    adj: dict[int, set[int]] = {}
    for r in ngram_jaccard_pairs(spark, str(d)).collect():
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if n in adj and len(adj[n]) < KCORE_K:
                for o in adj.pop(n):
                    if o in adj:
                        adj[o].discard(n)
                changed = True
    ref = sorted((n, len(nb)) for n, nb in adj.items())
    assert driver == ref, (driver, ref)
    assert all(deg >= KCORE_K for _, deg in driver)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user_id
            st.integers(min_value=0, max_value=10),  # second offset (ties!)
            st.sampled_from(["click", "view", "purchase", "error", "signup"]),
            st.floats(min_value=0, max_value=9, allow_nan=False),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_cdc_apply_equals_reference_fold(spark, tmp_path_factory, events):
    """cdc_apply (window formulation) must equal a literal per-key fold
    of the oplog in (ts, event_id) order — including timestamp ties
    (event_id breaks them) and keys whose last op is a delete (absent
    from the output)."""
    import datetime as dt
    import math

    from geektime_bigdata_spark.operators.etl import cdc_apply

    base = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=off), u, et, v, "{}")
        for i, (u, off, et, v) in enumerate(events)
    ]
    d = tmp_path_factory.mktemp("cdc")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = sorted(map(tuple, cdc_apply(spark, str(d)).collect()))

    by_user: dict[int, list] = {}
    for eid, ts, u, et, v, _ in rows:
        by_user.setdefault(u, []).append((ts, eid, et, v))
    ref = []
    for u, ops in by_user.items():
        ops.sort()
        ts, eid, et, v = ops[-1]
        if et != "error":
            ref.append((u, et, math.floor(v * 1e6 + 0.5), ts, len(ops)))
    assert got == sorted(ref), (got, sorted(ref))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=400),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_snapshot_diff_statuses_partition_correctly(
    spark, tmp_path_factory, ids
):
    """corpus_snapshot_diff's statuses must be exactly the set algebra
    of its derivation rules on ANY doc_id population: removed iff
    %37==0, changed iff %23==0 and kept, added iff %41==0 (at id+1e9),
    everything else absent from the diff."""
    from geektime_bigdata_spark.operators.etl import (
        DIFF_ADDED_MOD,
        DIFF_ADDED_OFFSET,
        DIFF_CHANGED_MOD,
        DIFF_REMOVED_MOD,
        corpus_snapshot_diff,
    )

    d = tmp_path_factory.mktemp("diff")
    spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 6) for i in ids],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: r["status"]
        for r in corpus_snapshot_diff(spark, str(d)).collect()
    }
    expect = {}
    for i in ids:
        if i % DIFF_REMOVED_MOD == 0:
            expect[i] = "removed"
        elif i % DIFF_CHANGED_MOD == 0:
            expect[i] = "changed"
        if i % DIFF_ADDED_MOD == 0:
            expect[i + DIFF_ADDED_OFFSET] = "added"
    assert got == expect, (got, expect)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(
                st.sampled_from(["red", "blue", "lime", "the", "a"]),
                min_size=1,
                max_size=12,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_per_source_caps_reference(spark, tmp_path_factory, docs):
    """per_source_caps must keep exactly the CAP highest-quality docs
    per source with (quality desc, doc_id) total order — checked
    against a literal Python re-ranking, including quality TIES (small
    vocab makes identical texts common)."""
    from geektime_bigdata_spark.operators.textstats import (
        CAP_PER_SOURCE,
        doc_quality_scores,
        per_source_caps,
    )

    d = tmp_path_factory.mktemp("caps")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = sorted(
        (r["source"], r["rank"], r["doc_id"])
        for r in per_source_caps(spark, str(d)).collect()
    )
    quality = {
        r["doc_id"]: r["quality_score"]
        for r in doc_quality_scores(spark, str(d)).collect()
    }
    ref = []
    by_src: dict[str, list] = {}
    for i, (s, _t) in enumerate(docs):
        by_src.setdefault(s, []).append(i)
    for s, ids in by_src.items():
        ranked = sorted(ids, key=lambda i: (-quality[i], i))
        for rank, i in enumerate(ranked[:CAP_PER_SOURCE], 1):
            ref.append((s, rank, i))
    assert got == sorted(ref), (got, sorted(ref))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "lime", "gray"]),
            min_size=1,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=15,
    )
)
def test_token_entropy_reference(spark, tmp_path_factory, docs):
    """token_entropy_scores must equal a literal Python computation of
    the micro-quantized -sum(p ln p) on arbitrary corpora — including
    single-type docs (entropy exactly 0, never -0.0 on the hashed
    surface)."""
    import math

    from geektime_bigdata_spark.operators.textstats import (
        token_entropy_scores,
    )

    d = tmp_path_factory.mktemp("ent")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_tokens"], r["entropy"])
        for r in token_entropy_scores(spark, str(d)).collect()
    }
    for i, t in enumerate(docs):
        words = [w for w in t.split(" ") if w]
        n = len(words)
        tm = 0
        for w in set(words):
            p = words.count(w) / n
            tm += math.floor(p * math.log(p) * 1e6 + 0.5)
        ent = math.floor(-(tm / 1e6) * 1e6 + 0.5) / 1e6
        assert got[i] == (n, ent), (i, got[i], (n, ent))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]),
            min_size=2,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_train_equals_greedy_reference(spark, tmp_path_factory, docs):
    """The window-based BPE merge (parity within consecutive-match
    runs) must equal literal greedy left-to-right merging on arbitrary
    streams — the 3-letter alphabet forces overlapping same-symbol
    runs ('a a a a'), the case the parity rule exists for."""
    from collections import Counter

    from geektime_bigdata_spark.operators.textstats import (
        BPE_TRAIN_STEPS,
        bpe_train_merges,
    )

    def ref(streams, steps):
        out = []
        for step in range(1, steps + 1):
            c: Counter = Counter()
            for s in streams:
                for x, y in zip(s, s[1:]):
                    c[(x, y)] += 1
            if not c:
                break
            (x, y), cnt = sorted(
                c.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
            )[0]
            nxt = []
            for s in streams:
                r, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                        r.append(x + "_" + y)
                        i += 2
                    else:
                        r.append(s[i])
                        i += 1
                nxt.append(r)
            streams = nxt
            out.append(
                (step, f"{x} {y}", cnt, sum(len(s) for s in streams))
            )
        return out

    d = tmp_path_factory.mktemp("bpe")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    expect = ref([t.split(" ") for t in docs], BPE_TRAIN_STEPS)
    got = sorted(map(tuple, bpe_train_merges(spark, str(d)).collect()))
    assert got == sorted(expect), (got, expect)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "lime", "gray", "teal"]),
            min_size=3,
            max_size=9,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    )
)
def test_prefix_filter_recall_is_exact(spark, tmp_path_factory, docs):
    """Prefix filtering must find EVERY pair at jaccard >= t — the
    exact-recall guarantee LSH lacks. Compared against brute-force
    posting expansion thresholded at t on random dense-overlap
    corpora."""
    from geektime_bigdata_spark.operators.dedup import (
        PREFIX_JACCARD_T,
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    d = tmp_path_factory.mktemp("pfx")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = sorted(
        map(tuple, prefix_filter_jaccard_pairs(spark, str(d)).collect())
    )
    brute = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(spark, str(d)).collect()
        if r["jaccard"] >= PREFIX_JACCARD_T
    )
    assert got == brute, (got, brute)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "lime", "gray", "teal"]),
            min_size=3,
            max_size=16,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    )
)
def test_banded_tier_matches_flat_tier(spark, tmp_path_factory, docs):
    """The length-banded tier must emit BIT-EQUAL pairs to the flat
    tier on arbitrary corpora — the band split (each probe hits band
    and band+1 of the power-of-2 size bands) plus the smaller-side
    pair orientation must never lose or duplicate a candidate across
    a band boundary. Wider size range than the recall property
    (max_size 16) so documents actually straddle bands."""
    from geektime_bigdata_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        prefix_filter_jaccard_pairs_banded,
    )

    d = tmp_path_factory.mktemp("pfxb")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    flat = sorted(
        map(tuple, prefix_filter_jaccard_pairs(spark, str(d)).collect())
    )
    banded = sorted(
        map(
            tuple,
            prefix_filter_jaccard_pairs_banded(spark, str(d)).collect(),
        )
    )
    assert flat == banded, (flat, banded)


def test_positional_prune_boundary_is_exact(spark):
    """The PPJoin positional filter's alpha compare is cross-multiplied
    integer arithmetic; a pair whose overlap bound EQUALS alpha must
    survive (>=, never >), including when (n_a + n_b) is divisible by
    p+q — the knife-edge a float ceil could over-prune."""
    from pyspark.sql import functions as F

    from geektime_bigdata_spark.operators.dedup import _positional_prune

    # t = 0.5 -> p, q = (1, 2): keep iff 3 * (1 + min(na-pa, nb-pb))
    # >= (na + nb).  Cases: exactly-at-alpha (divisible sum), one past,
    # and first positions (bound maximal).
    cases = [
        # (n_a, n_b, pa, pb, expected)
        (3, 3, 2, 2, True),   # bound 2, alpha 2: boundary survives
        (3, 3, 3, 3, False),  # bound 1, alpha 2: pruned
        (3, 3, 1, 1, True),   # first shared token: maximal bound
        (300, 300, 101, 101, True),   # bound 200 = alpha exactly
        (300, 300, 102, 102, False),  # bound 199 < alpha 200
    ]
    df = spark.createDataFrame(
        [(na, nb, pa, pb) for na, nb, pa, pb, _ in cases],
        "n_a long, n_b long, pa long, pb long",
    )
    got = [
        r["keep"]
        for r in df.select(
            _positional_prune(
                F.col("n_a"), F.col("n_b"), F.col("pa"), F.col("pb")
            ).alias("keep")
        ).collect()
    ]
    assert got == [e for *_, e in cases], got


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(min_value=-20, max_value=150, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_value_histogram_reference(spark, tmp_path_factory, vals):
    """Histogram bins must equal literal clamped integer binning on
    arbitrary values — including negatives (clamped to bin 0) and
    values past the last edge (clamped to bin 9)."""
    import datetime as dt
    import math

    from geektime_bigdata_spark.operators.etl import (
        HIST_BIN_WIDTH,
        value_histogram,
    )

    base = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=i), 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    d = tmp_path_factory.mktemp("hist")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        (r["event_type"], r["bin"]): r["n"]
        for r in value_histogram(spark, str(d)).collect()
    }
    ref: dict = {}
    for v in vals:
        b = min(max(math.floor(v / HIST_BIN_WIDTH), 0), 9)
        ref[("click", b)] = ref.get(("click", b), 0) + 1
    assert got == ref, (got, ref)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.integers(min_value=1, max_value=60),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_mixture_allocation_reference(spark, tmp_path_factory, docs):
    """Budget allocation must equal the literal integer arithmetic:
    mass = floor(sqrt(tokens)*1e6+0.5), target = budget*mass div
    total — on arbitrary source mixes."""
    import math

    from geektime_bigdata_spark.operators.textstats import (
        MIX_TOKEN_BUDGET,
        mixture_allocation,
    )

    d = tmp_path_factory.mktemp("mix")
    rows = [
        (i, " ".join(["w"] * ntok), "en", s, ntok)
        for i, (s, ntok) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["source"]: (r["n_tokens"], r["target_tokens"])
        for r in mixture_allocation(spark, str(d)).collect()
    }
    tokens: dict = {}
    for s, ntok in docs:
        tokens[s] = tokens.get(s, 0) + ntok
    masses = {
        s: math.floor(math.sqrt(n) * 1e6 + 0.5) for s, n in tokens.items()
    }
    total = sum(masses.values())
    ref = {
        s: (tokens[s], MIX_TOKEN_BUDGET * masses[s] // total)
        for s in tokens
    }
    assert got == ref, (got, ref)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]),
            min_size=2,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_batched_equals_reference(spark, tmp_path_factory, docs):
    """The batched trainer must equal a literal Python replay of its
    documented rule on arbitrary streams: rank pairs (count desc, pair
    asc), keep a top-4 candidate iff symbol-disjoint from EVERY
    higher-ranked candidate (including its minted merge symbol), apply
    the kept merges simultaneously with left-to-right overlap
    resolution. The 3-letter alphabet forces both same-symbol runs and
    dense conflicts inside the top-4 window."""
    from collections import Counter

    from geektime_bigdata_spark.operators.textstats import (
        bpe_train_merges_batched,
    )

    def ref(streams, rounds, k=4):
        out = []
        for step in range(1, rounds + 1):
            c: Counter = Counter()
            for s in streams:
                for x, y in zip(s, s[1:]):
                    c[(x, y)] += 1
            if not c:
                break
            ranked = sorted(
                c.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
            )[:k]
            kept = []
            for (x, y), cnt in ranked:
                syms = {x, y, x + "_" + y}
                hi_conflict = False
                for (hx, hy), _ in ranked:
                    if (hx, hy) == (x, y):
                        break  # only candidates ranked ABOVE
                    if syms & {hx, hy, hx + "_" + hy}:
                        hi_conflict = True
                        break
                if not hi_conflict:
                    kept.append(((x, y), cnt))
            sel = {p for p, _ in kept}
            nxt = []
            for s in streams:
                r, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and (s[i], s[i + 1]) in sel:
                        r.append(s[i] + "_" + s[i + 1])
                        i += 2
                    else:
                        r.append(s[i])
                        i += 1
                nxt.append(r)
            streams = nxt
            n_after = sum(len(s) for s in streams)
            for rank, ((x, y), cnt) in enumerate(kept, 1):
                out.append((step, rank, f"{x} {y}", cnt, n_after))
        return out

    d = tmp_path_factory.mktemp("bpeb")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    expect = ref([t.split(" ") for t in docs], 2)
    got = sorted(
        map(tuple, bpe_train_merges_batched(spark, str(d)).collect())
    )
    assert got == sorted(expect), (got, expect)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=200),
    k=st.integers(min_value=1, max_value=16),
)
def test_round_robin_repartition_file_count(spark, n, k, tmp_path_factory):
    """The invariant the compaction oracle is built on: round-robin
    ``repartition(k)`` sends each INPUT partition's rows to consecutive
    output slots, so an input partition holding >= k rows covers all k
    outputs by itself — from a single-partition source the parquet write
    produces EXACTLY min(n, k) files for ANY n, and the rows survive the
    rewrite as a multiset. (From a many-partition source with < k rows
    each, slot ranges can collide and leave outputs empty — hypothesis
    found that with n=2, k=3 over 32 input slices — which is why the
    compaction op's guarantee rides on scan partitions being far larger
    than its file-count targets, true for any real scan leg.)"""
    d = tmp_path_factory.mktemp("rr")
    df = spark.range(0, n, 1, 1).withColumnRenamed("id", "v")
    df.repartition(k).write.mode("overwrite").parquet(str(d / "t"))
    back = spark.read.parquet(str(d / "t"))
    files = (
        back.select(F.input_file_name().alias("f"))
        .agg(F.countDistinct("f").alias("nf"))
        .collect()[0]["nf"]
    )
    assert files == min(n, k)
    assert sorted(r["v"] for r in back.collect()) == list(range(n))


def test_dfcapped_jaccard_bounds_skewed_postings(spark, tmp_path_factory):
    """The df-capped similarity join on a DELIBERATELY SKEWED corpus —
    the regime the cap exists for: one stopword shingle appears in all
    40 docs (posting list = the whole corpus, uncapped pair expansion
    C(40,2) = 780 from that shingle alone), while true near-dup pairs
    share rare (df=2) shingles. Three claims: (1) after the cap no
    posting list exceeds NGRAM_DF_CAP, so per-shingle expansion work is
    bounded by a constant regardless of skew; (2) the recall split is
    EXACTLY the documented one — every rare-shingle-sharing pair (the
    20 identical-text pairs) survives the cap, and the pairs the cap
    loses are precisely the hot-only pairs whose entire overlap is the
    stopword shingle (jaccard 1/9, the boilerplate false-positive class
    a curation pipeline wants gone); (3) the hot shingle really is the
    skew it claims to be (uncapped max posting == corpus size), i.e.
    the fixture tests the cap, not a vacuous case."""
    from geektime_bigdata_spark.operators.dedup import (
        NGRAM_DF_CAP,
        _doc_shingles,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_dfcapped,
    )

    n_docs = 40
    docs = [
        (
            i,
            f"stop stop stop p{i // 2}a p{i // 2}b p{i // 2}c p{i // 2}d",
        )
        for i in range(n_docs)
    ]
    d = tmp_path_factory.mktemp("dfcap")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    sh = _doc_shingles(spark, str(d))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    uncapped_max = dfreq.agg(F.max("df")).collect()[0][0]
    assert uncapped_max == n_docs  # the stopword shingle hits every doc
    capped_max = (
        dfreq.filter(F.col("df") <= NGRAM_DF_CAP)
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert capped_max <= NGRAM_DF_CAP

    capped = sorted(
        map(tuple, ngram_jaccard_pairs_dfcapped(spark, str(d)).collect())
    )
    uncapped = sorted(
        map(tuple, ngram_jaccard_pairs(spark, str(d)).collect())
    )
    # the capped output is exactly the identical-text pairs at 1.0 —
    # each shares its four rare (df=2) tail shingles
    assert capped == [
        (2 * k, 2 * k + 1, 1.0) for k in range(n_docs // 2)
    ]
    # the cap loses ONLY the hot-only pairs: 5 shingles per doc, one
    # shared -> jaccard 1/9 on the 1e-6 grid, C(40,2) - 20 = 760 pairs
    lost = sorted(set(uncapped) - set(capped))
    assert len(lost) == n_docs * (n_docs - 1) // 2 - n_docs // 2
    assert {j for _, _, j in lost} == {0.111111}


def test_pagerank_large_docs_few_edges_takes_distributed_path(
    spark, tmp_path_factory, monkeypatch
):
    """VERDICT r15 item 5: the driver fast path collects EVERY doc id,
    so the gate must bind on n_docs as well as the edge count — a huge
    corpus with few near-dup edges must take the distributed path, not
    funnel 10^9 doc ids through the driver. 12 docs with disjoint
    vocabulary (zero edges) and a threshold of 5: the edge gate passes
    (0 <= 5) but n_docs (12) exceeds it, so the result plan must read
    the parquet relation (distributed path), not a driver-built
    LocalRelation (fast path). Values are path-invariant (isolated docs
    settle at the quantized damping floor) — asserted against the
    unrestricted fast path."""
    from geektime_bigdata_spark.operators import dedup
    from geektime_bigdata_spark.operators.dedup import neardup_pagerank

    d = tmp_path_factory.mktemp("prgate")
    docs = [
        (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e", "en", "s", 20)
        for i in range(12)
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 5)
    gated = neardup_pagerank(spark, str(d))
    plan = gated._jdf.queryExecution().analyzed().toString()
    assert "parquet" in plan, plan  # distributed path reads the table
    assert "LocalRelation" not in plan, plan  # fast path would be driver-built

    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 100)
    fast = neardup_pagerank(spark, str(d))
    fplan = fast._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in fplan or "LogicalRDD" in fplan, fplan
    assert sorted(map(tuple, gated.collect())) == sorted(
        map(tuple, fast.collect())
    )


def test_pca_top2_driver_solve_equals_distributed(spark, sf_dir):
    """The r16 driver-side eigen-iteration (the Gram is d x d = 4096
    rows BY CONSTRUCTION — driver-scalar class) must be BIT-identical
    to the distributed block power iteration: both run the same
    quantized IEEE recurrence in the same order (the pagerank-gate
    adjudication pattern). Measured win: 39 -> 2 warm jobs, ~7x wall
    same-session."""
    from geektime_bigdata_spark.operators.similarity import (
        embedding_pca_top2,
    )

    fast = sorted(map(tuple, embedding_pca_top2(spark, sf_dir).collect()))
    dist = sorted(
        map(
            tuple,
            embedding_pca_top2(spark, sf_dir, driver_solve=False).collect(),
        )
    )
    assert fast == dist and len(fast) == 64


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1.0,
                max_value=1.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=64,
            max_size=64,
        ),
        min_size=2,
        max_size=6,
    )
)
def test_pca_top2_driver_solve_equals_distributed_any_embeddings(
    spark, tmp_path_factory, vecs
):
    """The full driver-solve/distributed contract on ANY embedding
    table: both paths run the same quantized IEEE recurrence, so for
    every input they either produce BIT-EQUAL output or fail with the
    same division-by-zero class (a quantized-rank-deficient spectrum —
    all-zero corpus, or a rank-1 corpus whose second residual
    quantizes away — divides by zero in the normalization: ANSI
    DIVIDE_BY_ZERO distributed, ZeroDivisionError on the driver).
    The hypothesis twin of the fixed-corpus equality test."""
    from geektime_bigdata_spark.operators.similarity import (
        embedding_pca_top2,
    )

    d = tmp_path_factory.mktemp("pcaany")
    spark.createDataFrame(
        [(i, v, i % 2) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    try:
        fast = sorted(
            map(tuple, embedding_pca_top2(spark, str(d)).collect())
        )
    except ZeroDivisionError:
        import pytest

        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            embedding_pca_top2(
                spark, str(d), driver_solve=False
            ).collect()
        return
    dist = sorted(
        map(
            tuple,
            embedding_pca_top2(
                spark, str(d), driver_solve=False
            ).collect(),
        )
    )
    assert fast == dist and len(fast) == 64


def test_pca_top2_zero_corpus_raises_on_both_paths(
    spark, tmp_path_factory
):
    """Degenerate-spectrum parity: an all-zero embedding table has
    n1 = 0 and the normalization divides by zero — under ANSI the
    distributed path raises DIVIDE_BY_ZERO and the driver path raises
    ZeroDivisionError. The two paths must FAIL the same way, not
    diverge silently."""
    import pytest

    from geektime_bigdata_spark.operators.similarity import (
        embedding_pca_top2,
    )

    d = tmp_path_factory.mktemp("pcazero")
    spark.createDataFrame(
        [(0, [0.0] * 64, 0), (1, [0.0] * 64, 1)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    with pytest.raises(ZeroDivisionError):
        embedding_pca_top2(spark, str(d)).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        embedding_pca_top2(spark, str(d), driver_solve=False).collect()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(WORDS, min_size=3, max_size=8).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_contamination_cap_is_score_monotone(
    spark, tmp_path_factory, texts
):
    """The df-cap contract for ANY corpus (VERDICT r16 item 1): with
    the top-k window disabled (huge k), the capped output must be a
    PAIR SUBSET of the uncapped one; every surviving pair's score can
    only shrink (it sums a shingle subset, and per-shingle idf is
    cap-invariant); and a pair whose shared-shingle count the cap did
    not change keeps its EXACT score. Doc 0 is the eval side
    (doc_id % 97 == 0), the rest train; max_df=1 makes the cap bind on
    any shingle two train docs share."""
    from geektime_bigdata_spark.operators.dedup import (
        contamination_retrieval,
    )
    from geektime_bigdata_spark.session import release_caches

    d = tmp_path_factory.mktemp("contam")
    spark.createDataFrame(
        [(i, t, "en", "s", 1) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    release_caches(spark)
    try:
        def rows(max_df):
            out = contamination_retrieval(
                spark, str(d), k=10**9, max_df=max_df
            ).collect()
            return {
                (r["eval_doc_id"], r["doc_id"]): (
                    r["n_shared_shingles"],
                    r["score"],
                )
            for r in out
            }

        capped, uncapped = rows(1), rows(None)
        assert set(capped) <= set(uncapped)
        for pair, (n_c, s_c) in capped.items():
            n_u, s_u = uncapped[pair]
            assert n_c <= n_u and s_c <= s_u, (pair, capped, uncapped)
            if n_c == n_u:
                assert s_c == s_u, (pair, capped, uncapped)
    finally:
        release_caches(spark)
