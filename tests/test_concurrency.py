"""Concurrent queries in one session: a drill of streaming runners, the
Python datasource, memo consumers and plain SQL from several threads,
each checked against its DuckDB oracle, with the session conf checked
unchanged afterwards."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as entrymod
from tests.oracle import assert_matches_oracle, duckdb_connection

DRILL = [
    "pyds_tsv_roundtrip",
    "pyds_stream_roundtrip",
    "streaming_hourly_rollup",
    "streaming_dedup",
    "streaming_attribution_outer",
    "streaming_sessionization",
    "streaming_upsert_sink",
    "streaming_enriched_rollup",
    "tfidf_top_terms",
    "word_counts",
    "ann_topk_ivf",
    "q21_suppliers_waiting",
]
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def test_concurrent_queries_match_oracles_and_keep_session_conf(
    spark, sf_dir
):
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(PROVIDER, None) is None

    def check(name: str) -> None:
        con = duckdb_connection(sf_dir)
        try:
            df = queries[name](spark, sf_dir)
            assert_matches_oracle(df, con, oracles[name], name)
        finally:
            con.close()

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {name: pool.submit(check, name) for name in DRILL}
    errors = {
        n: f"{type(f.exception()).__name__}: {f.exception()}"
        for n, f in futures.items()
        if f.exception()
    }
    assert not errors, errors
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    assert spark.conf.get(PROVIDER, None) is None


def test_concurrent_start_scopes_never_interleave(spark):
    """With more threads than cores and a short switch interval, every
    streaming start sees its own width and the session's partition
    count survives: set/start/restore is one atomic scope."""
    import sys
    import threading

    from geektime_bigdata_spark.streaming import windows

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    seen = []

    class Writer:
        def __init__(self, width: int) -> None:
            self.width = width

        def start(self):
            seen.append((str(self.width), spark.conf.get(key)))
            return self

    def run(width: int) -> None:
        for _ in range(20):
            windows._start(Writer(width), spark, width)

    widths = [int(before) + 1 + i for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(w,)) for w in widths]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 20 * len(widths)
    assert [p for p in seen if p[0] != p[1]] == []
    assert spark.conf.get(key) == before


def test_cold_memo_key_fills_once_across_threads(spark):
    """Eight threads (more than cores, short switch interval) asking for
    one cold session-memo key run ``build`` once and all get its one
    value."""
    import sys
    import threading
    import time

    from geektime_bigdata_spark.session import release_caches, session_memo

    calls, ready = [], threading.Barrier(8)

    def build(spark, sf_dir):
        calls.append(sf_dir)
        time.sleep(0.2)  # keep the fill open while the others arrive
        return object()

    def ask(_):
        ready.wait()
        return session_memo(spark, "cold-key", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            values = list(pool.map(ask, range(8), timeout=120))
    finally:
        sys.setswitchinterval(interval)
        release_caches(spark)
    assert calls == ["cold-key"] and all(v is values[0] for v in values)


SQL_TEXT = [
    "sql_catalog_query",
    "sql_udf_lang_stats",
    "event_type_stats_pipe",
    "lang_source_listagg",
    "chunk_documents",
    "neardup_reach_rcte",
]


def test_sql_text_queries_read_their_own_scale_dir(spark, sf_dir, sf_medium):
    """The queries written as SQL text, run from threads on two scale
    dirs at once, each return what the same query returns serially on
    its own dir: their inputs are bound per call, never through
    session-wide temp view names another thread can replace."""
    queries = entrymod.queries()

    def rows(task):
        name, d = task
        return sorted(map(tuple, queries[name](spark, d).collect()))

    tasks = [(n, d) for n in SQL_TEXT for d in (sf_dir, sf_medium)]
    expect = {t: rows(t) for t in tasks}
    with ThreadPoolExecutor(max_workers=6) as pool:
        got = list(pool.map(rows, tasks, timeout=300))
    wrong = [t for t, g in zip(tasks, got) if g != expect[t]]
    assert not wrong, wrong
