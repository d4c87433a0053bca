"""Text / inverted-index operators — homework-4 parity (InvertedMain.scala).

The reference builds inverted indexes with RDD ``flatMap``/``reduceByKey``
(InvertedMain.scala:13-29). Here the same semantics are one declarative
chain: ``explode(split(text))`` -> ``groupBy`` -> collect — Catalyst plans a
partial+final aggregate pair, so the shuffle carries per-partition partial
posting lists instead of one record per token occurrence (the RDD version's
``reduceByKey`` map-side combine, but with codegen'd hash aggregation).

Posting lists are emitted BOTH as typed arrays (the natural Spark shape)
and as canonical strings (``_str`` variants) so the DuckDB oracle can
hash-compare across dialects without array-type coercion surprises.

Scale note: ``collect_set``/``collect_list`` per key are fine while posting
lists fit in executor memory (true for word->doc indexes at 100 TB only with
doc-partitioning); the ``_str`` variants cap nothing — for truly giant keys
one would bucket by (word, doc_id range). Tokenization stays entirely in
whole-stage codegen (split/explode are native expressions, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import grid_round
from geektime_bigdata_spark.registry import ROW_WORK_BYTES, spread, table
from geektime_bigdata_spark.session import session_memo


def _tokens(df: DataFrame) -> DataFrame:
    """``(doc_id, word)`` one row per token occurrence — X1 split + X2
    explode (InvertedMain.scala:14-15,23-24)."""
    return df.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).filter(F.col("word") != "")


def token_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact per-document term-frequency relation
    ``(doc_id, word, tf)`` — ONE Arrow-vectorized corpus pass, memoized
    per (session, sf_dir) and shared by the whole token family
    (term_freq, word_counts, the inverted indexes, posting lists,
    TF-IDF, BM25). r18, guide §4.2: the JVM split stays codegen'd, the
    token ListArray's flat values buffer feeds a C++ ``group_by`` with
    ``np.repeat`` of the doc ids over the list offsets — replacing the
    explode + two-key hash aggregate that cost ~10 executor-CPU-s per
    consumer at sf0.1 (measured A/B: 10.7 -> 0.9 CPU-s, identical
    rows). Counts are exact integers, so batch boundaries cannot move
    a value; empty tokens are filtered exactly like ``_tokens``. The
    final groupBy-sum merges per-batch partials (each document's rows
    are atomic within one batch, so partials are already per-document
    counts — the sum is a cheap formality that keeps correctness
    independent of that layout detail). Materialized once per
    (session, sf_dir) through :func:`session_memo`."""
    return session_memo(spark, sf_dir, _token_tf_pass)


def _token_tf_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )

    def partials(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            arr = batch.column(1)
            if arr.null_count:
                raise ValueError("token_tf: NULL token array")
            offs = np.asarray(arr.offsets, dtype=np.int64)
            offs = offs - offs[0]
            flat = arr.flatten()
            if len(flat) == 0:
                continue
            ids = np.repeat(
                np.asarray(batch.column(0), dtype=np.int64),
                np.diff(offs),
            )
            t = (
                pa.table({"doc_id": pa.array(ids), "w": flat})
                .group_by(["doc_id", "w"])
                .aggregate([("w", "count")])
            )
            t = t.filter(pc.not_equal(t.column("w"), ""))
            out = pa.table(
                {
                    "doc_id": t.column("doc_id"),
                    "word": t.column("w"),
                    "tf": t.column("w_count").cast(pa.int64()),
                }
            )
            for b in out.combine_chunks().to_batches():
                yield b

    return (
        docs.mapInArrow(partials, "doc_id long, word string, tf long")
        .groupBy("doc_id", "word")
        .agg(F.sum("tf").alias("tf"))
        .localCheckpoint()
    )


def term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(word, doc) term frequency — InvertedMain.scala:24-25's
    ``((word, docId), 1) reduceByKey _+_``. Rides the shared Arrow tf
    relation since r18 (see :func:`token_tf`)."""
    return token_tf(spark, sf_dir).select("word", "doc_id", "tf")


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word -> sorted distinct doc set — InvertedMain.scala:13-19 variant 1.
    Op A3 (+X1/X2). ``sort_array`` makes the set deterministic."""
    # distinct (word, doc) pairs are exactly the tf relation's keys —
    # ride the shared Arrow pass (r18, token_tf); collect_set over the
    # already-unique pairs is set-identical to the exploded form
    return (
        token_tf(spark, sf_dir)
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("doc_ids"))
    )


def inverted_index_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-friendly twin of :func:`inverted_index`: posting set as a
    canonical comma-joined string plus document frequency.

    ``df`` is ``size(collect_set(...))`` — NOT a separate
    ``countDistinct``: mixing a distinct aggregate with ``collect_set``
    makes Spark plan a two-phase distinct expansion over the exploded
    token relation (measured ~25% slower at sf0.1); the set is already
    distinct, so its cardinality is free."""
    return (
        token_tf(spark, sf_dir)
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .select(
            "word",
            F.concat_ws(",", F.col("ids")).alias("doc_ids"),
            F.size("ids").cast("long").alias("df"),
        )
    )


def posting_list_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word -> posting list with term frequencies — InvertedMain.scala:22-29
    variant 2 (``(word, Array((docId, cnt)))``). Ops A2+A4.

    Two-level aggregation: tf per (word, doc), then list-of-struct per word.
    Both aggregations hash-partition on ``word``-prefixed keys so AQE can
    reuse/coalesce the exchange."""
    tf = token_tf(spark, sf_dir)
    return tf.groupBy("word").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("postings")
    )


def posting_list_tf_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-friendly twin of :func:`posting_list_tf`: postings rendered as
    ``doc:tf`` pairs joined by commas, sorted by doc_id."""
    tf = token_tf(spark, sf_dir)
    return (
        tf.withColumn("pair", F.struct("doc_id", "tf"))
        .groupBy("word")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("pair")),
                    lambda s: F.concat_ws(
                        ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                    ),
                ),
            ).alias("postings"),
            F.sum("tf").alias("total_tf"),
        )
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring: tf(word, doc) * ln(N / df(word)), top-3 terms per
    document (rounded score + word tiebreak for determinism).

    Two aggregations share the tokens relation; df joins back unhinted
    (vocabulary << corpus, but it grows unboundedly under Heaps' law —
    AQE broadcasts while small, the r15-verdict hint discipline). The
    doc count N is a scalar
    computed once driver-side — cheap and plan-stable."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # tiny scalar; at scale use an approx or metadata
    tf = token_tf(spark, sf_dir)
    # tf's (doc_id, word) key is unique by construction, so df is a
    # plain count — countDistinct planned a two-phase distinct
    # expansion (the inverted_index_str docstring's measured trap)
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    from pyspark.sql import Window

    scored = (
        tf.join(df_, "word")
        .withColumn(
            "tfidf",
            # grid_round: identical IEEE ops on both engines (plain
            # round() knife-edges at decimal ties, VERDICT r2 item 4)
            grid_round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf", "rk")
    )


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word count — the canonical explode+groupBy job; feeds
    plan-shape tests for partial/final HashAggregate."""
    return (
        token_tf(spark, sf_dir)
        .groupBy("word")
        .agg(F.sum("tf").alias("cnt"))
    )


def positional_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index (A3/A4 extension): (word, doc_id, pos)
    rows, 1-based positions — the index phrase and proximity queries need
    (homework-4's index stops at doc ids + counts). Pure
    explode-with-ordinal projection; consumers aggregate or join on
    (doc_id, pos) arithmetic."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "word"),
        )
        .filter(F.col("word") != "")
        .select(
            "word", "doc_id", (F.col("pos0") + 1).cast("long").alias("pos")
        )
    )


def phrase_search(
    spark: SparkSession, sf_dir: str, phrase: str = "table hash"
) -> DataFrame:
    """Exact phrase search over the positional index: occurrences of the
    two-word phrase per document. Adjacency (pos_b = pos_a + 1) is folded
    into the join KEY — (doc_id, pos+1) = (doc_id, pos) — so this is a
    plain equi-join on the two (tiny, word-filtered) posting lists, never
    a positional nested loop."""
    w1, w2 = phrase.split()
    t = positional_postings(spark, sf_dir)
    a = t.filter(F.col("word") == w1).select(
        "doc_id", (F.col("pos") + 1).alias("next_pos")
    )
    b = t.filter(F.col("word") == w2).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("next_pos") == F.col("pos_b")),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


CHUNK_TOKENS = 32  # tokens per training chunk


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking via a Python UDTF (Spark 4's table-function
    surface — the one UDF flavor the rest of the engine doesn't already
    exercise): split each document's token stream into fixed
    CHUNK_TOKENS-sized training chunks, one output ROW per chunk.

    A UDTF is the right shape when one input row fans out to a variable
    number of computed rows AND the per-row logic genuinely needs Python
    (here a stand-in for a real tokenizer; a pure token-count split
    would be `posexplode` + native slicing). Executed per-partition in
    the Python worker over batched rows; the lateral join keeps it a
    narrow map — no shuffle. The DuckDB oracle reproduces the chunking
    with list slicing, so even this Python fan-out path is
    hash-verified."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, chunk_id bigint, chunk_text string,"
            " n_tokens bigint"
        )
    )
    class ChunkDocs:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(0, len(toks), CHUNK_TOKENS):
                chunk = toks[i : i + CHUNK_TOKENS]
                yield doc_id, i // CHUNK_TOKENS, " ".join(chunk), len(chunk)

    spark.udtf.register("gbs_chunk_docs", ChunkDocs)
    return spark.sql(
        "SELECT c.* FROM {documents}, "
        "LATERAL gbs_chunk_docs(doc_id, text) AS c",
        documents=table(spark, sf_dir, "documents"),
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (Robertson; the Lucene-style idf variant):
    ``idf(w) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))`` with k1=1.2,
    b=0.75 — top-3 terms per document. The ranking-function upgrade of
    :func:`tfidf_top_terms` for the inverted-index family
    (InvertedMain.scala lineage): same two aggregations over the one
    tokens relation plus a per-doc length and one global avgdl scalar.

    Plan shape: df and dl join back onto tf unhinted — AQE broadcasts
    both while they are small (df and dl are each << the tf relation)
    and shifts to shuffled joins at corpus scale, where dl is one row
    per document; avgdl is a one-row aggregate
    cross-joined broadcast, exactly like the TPC-H scalar subqueries.
    Every float op is written in the same order in the DuckDB oracle
    (literals 0.25/0.75/1.2/2.2, integer-ratio divisions) so the
    grid-rounded score is engine-identical."""
    from pyspark.sql import Window

    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("bm25").desc(), F.col("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "df", "dl", "bm25", "rk")
    )


def _bm25_scored(
    spark: SparkSession, sf_dir: str, words: DataFrame | None = None
) -> DataFrame:
    """(doc_id, word, tf, df, dl, bm25) — the BM25-scored term-document
    relation shared by the per-doc top-terms view (bm25_top_terms) and
    the query-side retrieval view (bm25_topk_docs). Extracted r15 so
    both read ONE definition of the scoring expression; the tf cache is
    plan-canonical, so Spark's CacheManager dedups it across the two
    operators within a session.

    ``words`` (r17, guide §2.3 — project/filter before the exchange): an
    optional tiny (word) relation; when given, the tf rows are
    semi-joined to it BEFORE the df/dl/avgdl joins, so only the probed
    terms' postings flow through the scoring joins. The corpus
    statistics stay full-corpus: df per word is counted from all of
    that word's tf rows (the semi-join keeps every row of a kept word),
    and dl/avgdl always aggregate the unfiltered tf — scores for the
    surviving rows are bit-identical to the unfiltered relation."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # tiny scalar; at scale use an approx or metadata
    # the shared memoized Arrow tf relation feeds everything (r18):
    # dl = sum of tf per doc, df = per-word row count, the scoring join
    tf = token_tf(spark, sf_dir)
    # dl has two consumers per query (the per-doc join and the avgdl
    # scalar) and two consuming queries; uncached the aggregate subtree
    # executed once per consumer (r17 — the SQL tab showed the pair of
    # identical exchanges). Plan-canonical, so CacheManager shares it.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).cache()
    if words is not None:
        tf = tf.join(F.broadcast(words.select("word")), "word", "semi")
    # tf's (doc_id, word) key is unique by construction, so df is a plain
    # row count — countDistinct here planned a two-phase distinct
    # expansion over the whole tf relation (the inverted_index_str
    # docstring's measured ~25% trap; removed r17)
    df_ = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    avg = dl.agg((F.sum("dl") / F.count(F.lit(1))).alias("avgdl"))

    from geektime_bigdata_spark.functions import grid_round

    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(0.25) + (F.lit(BM25_B) * F.col("dl")) / F.col("avgdl")
    )
    # df_ (one row per distinct word) and dl (one row per DOCUMENT) are
    # unhinted (the VERDICT r15 class): dl is corpus-cardinality and
    # vocabulary grows unboundedly under Heaps' law, so a forced
    # broadcast would override Spark's size logic at 10^9+ docs. AQE
    # still broadcasts both at test scale; only the one-row avgdl
    # scalar keeps its hint (fixed cardinality by construction).
    return (
        tf.join(df_, "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avg))
        .withColumn(
            "bm25",
            grid_round((idf * (F.col("tf") * F.lit(2.2))) / denom, 6),
        )
    )


# fixed retrieval workload for bm25_topk_docs: multi-term queries over
# the corpus vocabulary, including one rare term (df ~5% of docs) so
# idf separation is visible in the ranking
BM25_QUERIES = [
    ("q_hash_join", ["hash", "join"]),
    ("q_sort_merge_join", ["sort", "merge", "join"]),
    ("q_dup_scan", ["dup", "scan"]),
    ("q_stream_window", ["stream", "window"]),
]
BM25_TOPK = 5


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side BM25 retrieval: top-k documents per query, the
    search-engine half of the inverted-index family (bm25_top_terms
    ranks terms WITHIN a doc; this ranks DOCS for a query — what a
    training pipeline runs to decontaminate against eval queries or to
    mine retrieval training pairs). Score(q, d) = sum over query terms
    of the shared BM25 term score.

    Plan shape: the query list is a tiny broadcast literal relation, so
    the join against the scored term-document relation is a map-side
    postings PROBE — only rows whose word appears in some query survive
    the join, the classic term-at-a-time retrieval plan; the per-(query,
    doc) sum and the top-k window (partitioned by query) then run on
    query-term postings only, a sliver of the corpus.

    Determinism: per-term scores are already on the 1e-6 grid; the
    query score accumulates them as LONG micro-units (integer addition
    is associative — partitioning can never flip a sum), ranking
    compares the integer, and the emitted double is micros/1e6 — the
    exact_sum contract end to end. Ties break on doc_id."""
    from pyspark.sql import Window

    # r17 (guide §4.1 eliminate the Python boundary): the query literal
    # is a JVM-side VALUES LocalRelation. createDataFrame on a Python
    # list builds a 32-slice pickled RDD, and each of the TWO broadcast
    # exchanges over it (the words semi-join + the query_id join)
    # materialized it through 32 Python-worker tasks — two near-idle
    # 32-task stages of worker spin-up per run (stage profile: 7-8 s
    # task runtime at ~0.08 CPU each). Fixed alphanumeric literals, no
    # escaping concerns.
    vals = ", ".join(
        f"('{qid}', '{w}')" for qid, ws in BM25_QUERIES for w in ws
    )
    qdf = spark.sql(
        f"SELECT col1 AS query_id, col2 AS word FROM VALUES {vals}"
    )
    # r17: the query-term filter is pushed INSIDE the scored relation
    # (words=...), so the df/dl scoring joins run over the ~10 probed
    # words' postings instead of the full term-document matrix; the
    # join below only attaches query_id (and fans a shared word out to
    # its queries). Scores are bit-identical (see _bm25_scored).
    scored = _bm25_scored(spark, sf_dir, words=qdf)
    per_doc = (
        scored.join(F.broadcast(qdf), "word")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum(
                F.floor(F.col("bm25") * F.lit(1000000.0) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("score_micros"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micros").desc(), F.col("doc_id")
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            "n_terms_hit",
            (F.col("score_micros") / F.lit(1000000.0)).alias("score"),
            "rk",
        )
    )
