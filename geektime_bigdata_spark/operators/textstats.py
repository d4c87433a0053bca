"""Text analysis for training-data curation: language ID, quality scoring,
token counting, fingerprinting — all native expressions (SURVEY.md §7.2 M7).

Each op is a single narrow projection (no shuffle at all except where an
aggregate is requested) — at 100 TB these run at scan speed and are the
kind of map-only pass a curation pipeline chains by the dozen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import grid_round
from geektime_bigdata_spark.registry import (
    ARROW_PASS_BYTES,
    ROW_WORK_BYTES,
    spread,
    table,
)

# Tiny per-language marker lists for the n-gram/stopword heuristic.
# The synthetic corpus shares one vocabulary, so predictions are uniform —
# the *mechanism* (per-lang token-hit scoring + deterministic argmax) is
# what the oracle verifies.
LANG_MARKERS = {
    "en": ("the", "a", "is", "what", "it", "and"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "es", "y"),
    "fr": ("le", "la", "les", "est", "et"),
    "zh": ("的", "是", "了", "在"),
}

# words counted as stopwords for quality ratios
STOPWORDS = ("the", "a", "is", "what", "it", "and", "of", "to", "in")

TOKEN_PATTERN = "[A-Za-z]+|[0-9]+"  # BPE-ish word/number pieces, RE2-safe


def _n_tokens(col: str = "text") -> Column:
    return F.size(F.split(F.col(col), " "))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count, regex (BPE-ish) piece count, distinct-type
    count, and chars-per-token — the basic curation statistics."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    # staged split (HOFs/array ops defeat codegen CSE — see
    # doc_quality_scores)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.expr(f"regexp_extract_all(text, '{TOKEN_PATTERN}', 0)"))
        .cast("long")
        .alias("n_pieces"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        "n_pieces",
        F.size(F.array_distinct(F.col("toks")))
        .cast("long")
        .alias("n_types"),
        grid_round(F.col("n_chars") / F.size("toks"), 6).alias(
            "chars_per_token"
        ),
    )


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-token hits with deterministic argmax
    (highest score wins; alphabetical language code breaks ties).

    Marker hits are counted per row with ``filter`` over the token array —
    a pure projection with NO shuffle at all (the earlier explode+groupBy
    formulation moved every token through an exchange; this moves
    nothing). At 100 TB this runs at scan speed."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)

    def hits(markers: tuple[str, ...]) -> Column:
        arr = ", ".join("'" + m + "'" for m in markers)
        return F.expr(
            f"size(filter(toks, w -> w IN ({arr})))"
        ).cast("long")

    # stage the split once: one filter lambda per language would
    # otherwise re-split the text per language (no CSE across
    # higher-order-function subtrees)
    scores = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "doc_id",
        *[
            hits(markers).alias(f"score_{lang}")
            for lang, markers in sorted(LANG_MARKERS.items())
        ],
    )
    # deterministic argmax: greatest score, alphabetical tiebreak
    pred = F.lit(None).cast("string")
    best = F.lit(-1)
    for lang in sorted(LANG_MARKERS):  # later langs win only on STRICT >
        s = F.col(f"score_{lang}")
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return scores.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.alias("best_score"),
    )


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean word length, stopword ratio, distinct
    ratio, and a composite score.

    All statistics are per-row array expressions over ``split(text)`` —
    token count, summed word lengths, stopword hits, and distinct types
    never leave the row, so this is a pure shuffle-free projection (the
    earlier explode+groupBy+countDistinct formulation cost a token-level
    exchange plus an Expand for the distinct). Integer sums divided once
    at the end reproduce the oracle's ``avg`` bit-for-bit (int sums are
    exact in doubles)."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    stop_arr = ", ".join("'" + w + "'" for w in STOPWORDS)
    # token array staged in its own projection: higher-order-function
    # subtrees are exempt from codegen subexpression elimination, so an
    # inlined form re-splits the text for every statistic (measured on
    # doc_repetition_scores: 2.9x); CollapseProject keeps the stages
    # apart because merging would duplicate the non-cheap split
    staged = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_text"),
        F.split(F.col("text"), " ").alias("toks"),
    )
    n_tokens = F.expr("size(toks)").cast("long")
    sum_word_len = F.expr(
        "aggregate(toks, 0L, (a, w) -> a + length(w))"
    )
    n_stop = F.expr(f"size(filter(toks, w -> w IN ({stop_arr})))")
    n_types = F.expr("size(array_distinct(toks))")
    stats = staged.select(
        "doc_id",
        "n_chars_text",
        n_tokens.alias("n_tokens"),
        grid_round(sum_word_len / n_tokens, 6).alias("avg_word_len"),
        grid_round(n_stop / n_tokens, 6).alias("stopword_ratio"),
        grid_round(n_types / n_tokens, 6).alias("distinct_ratio"),
    )
    quality = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.4
        + F.col("distinct_ratio") * 0.4
        + (1 - F.col("stopword_ratio")) * 0.2
    )
    return stats.select(
        "doc_id",
        "n_chars_text",
        "n_tokens",
        "avg_word_len",
        "stopword_ratio",
        "distinct_ratio",
        grid_round(quality, 6).alias("quality_score"),
    )


def source_fair_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-FAIR quality ranking: each document's exact percentile of
    quality_score WITHIN ITS SOURCE, plus the top-half selection flag —
    the curation primitive that fixes the global-threshold failure mode
    (one global quality cutoff guts low-resource sources whose score
    distribution sits lower; per-source percentiles keep the mix while
    still selecting the best of each — the Gopher/CCNet-style
    per-bucket selection).

    pct_rank is percent_rank() over (source, ORDER BY quality_score,
    doc_id) — the doc_id tiebreak makes ranks unique, so the output is
    fully deterministic and the value is an exact integer ratio
    (rank-1)/(n-1), identical IEEE in both engines. A single-document
    source is KEPT (ADVICE r15: percent_rank of a 1-row partition is
    0.0, so a bare >= 0.5 cut would drop the smallest — most
    vulnerable — sources entirely, the opposite of the fairness
    claim); keep_top_half is pct_rank >= 0.5 OR n_source == 1.

    Scale honesty: a window PARTITIONED BY source sorts each source in
    one task — exact per-doc ranks fundamentally need a per-source
    ordering, so a handful of giant sources caps parallelism at the
    source count. At 100 TB the production variant computes per-source
    approx-quantile THRESHOLDS map-side (the order_price_quantiles
    pattern) and joins them back — constant memory, no global sort —
    trading exact per-doc ranks for bucketed ones; this operator is the
    exact tier the approximate one is validated against."""
    from pyspark.sql import Window

    quality = doc_quality_scores(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    src = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES).select(
        "doc_id", "source"
    )
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    wsrc = Window.partitionBy("source")
    return (
        quality.join(src, "doc_id")
        .withColumn(
            "pct_rank", grid_round(F.percent_rank().over(w), 6)
        )
        .withColumn(
            "keep_top_half",
            (F.col("pct_rank") >= 0.5)
            | (F.count(F.lit(1)).over(wsrc) == 1),
        )
        .select("doc_id", "source", "quality_score", "pct_rank", "keep_top_half")
    )


def source_fair_quality_caps(
    spark: SparkSession, sf_dir: str, accuracy: int | None = None
) -> DataFrame:
    """The SCALE TIER of source-fair selection (VERDICT r15 item 4 —
    the variant :func:`source_fair_quality_rank`'s docstring promises):
    instead of an exact per-doc percentile (a window that sorts each
    source in one task — parallelism capped at the source count), compute
    ONE per-source median THRESHOLD with an aggregate and join it back.
    The aggregate's partials merge map-side and the join key is
    ``source``, so no per-source ordering ever happens; the per-source
    relation is |sources| rows — bounded, broadcast-safe by AQE's own
    size logic without a hint. Output per doc: its source's threshold
    and the keep flag ``quality_score >= src_p50`` — bucketed selection
    (above/below the cap) in place of exact ranks.

    ``accuracy=None`` (the registered, oracle-checked tier) uses exact
    ``percentile`` — Spark and DuckDB ``quantile_cont`` share linear
    interpolation over the already-grid-rounded scores, so the rounded
    threshold is engine-identical (the order_price_quantiles recipe).
    Exact percentile still buffers each source's values inside the
    aggregate; passing ``accuracy`` (e.g. 10000) switches the same plan
    to ``percentile_approx`` — the mergeable constant-memory sketch that
    IS the 100 TB form — validated against the exact tier by a pytest
    (thresholds within quantile tolerance; keep flags identical off the
    tolerance band). A singleton source keeps its one doc for free
    (median of one value = that value, and score >= score).

    Agreement with the exact-rank tier: keep counts differ by at most
    the interpolation row per source (rank keeps ceil(n/2), the cap
    keeps scores >= the interpolated median) — asserted by pytest."""
    quality = doc_quality_scores(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    src = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES).select(
        "doc_id", "source"
    )
    scored = quality.join(src, "doc_id")
    thr_expr = (
        f"percentile_approx(quality_score, 0.5, {accuracy})"
        if accuracy is not None
        else "percentile(quality_score, 0.5)"
    )
    caps = scored.groupBy("source").agg(
        grid_round(F.expr(thr_expr), 6).alias("src_p50"),
        F.count(F.lit(1)).alias("n_source"),
    )
    return scored.join(caps, "source").select(
        "doc_id",
        "source",
        "quality_score",
        "src_p50",
        (F.col("quality_score") >= F.col("src_p50")).alias("keep"),
    )


KGRAM = 16  # rolling-window width (chars)
WINNOW_BLOCK = 8  # positions per sampling block


def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-window fingerprints: hash every KGRAM-char
    window of the document, then keep the minimum hash per WINNOW_BLOCK
    consecutive positions — the block-sampled variant of the classic
    winnowing scheme (local-min sampling guarantees shared fingerprints
    for any sufficiently long shared substring, which plain whole-doc
    hashing — :func:`doc_fingerprints` — cannot give).

    The window hash is md5-derived (engine-independent, per the oracle
    recipe) rather than a true O(1) rolling polynomial — same selectivity,
    deterministic across engines; positions explode JVM-side via
    ``sequence``. Output is (doc_id, block, fp): ~len/WINNOW_BLOCK rows
    per doc, the index a plagiarism/near-dup detector would bucket-join
    on.

    r17 measurement note (kept as the guide §1.1 empirical record): an
    in-row rewrite (nested ``transform``/``array_min`` per block, no
    explode, no groupBy) was built, oracle-verified, and REVERTED — it
    read 3.9 s / 8.5 CPU-s at sf0.1 vs well under 0.6 s for this shape,
    because higher-order lambdas evaluate interpreted while this
    explode + partial-aggregate pipeline runs entirely inside
    WholeStageCodegen (the Generate never materializes per-position
    copies of ``text``; the map-side partial min means the exchange
    carries one row per (doc, block), not per position)."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    positions = docs.filter(F.length("text") >= KGRAM).select(
        "doc_id",
        "text",
        F.explode(
            F.expr(f"sequence(1, length(text) - {KGRAM - 1})")
        ).alias("p"),
    )
    hv = F.expr(
        f"CAST(conv(substr(md5(substring(text, p, {KGRAM})), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    return (
        positions.select(
            "doc_id",
            F.floor((F.col("p") - 1) / WINNOW_BLOCK).cast("long").alias("block"),
            hv.alias("hv"),
        )
        .groupBy("doc_id", "block")
        .agg(F.min("hv").alias("fp"))
    )


WINNOW_MIN_SHARED = 3  # shared fingerprints to call a pair near-dup
WINNOW_MAX_DF = 64  # drop fingerprints present in more docs (hub guard)


def winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs from the winnowing fingerprints —
    the PAIR JOIN that completes :func:`rolling_fingerprints`: two
    documents sharing >= ``WINNOW_MIN_SHARED`` distinct window
    fingerprints share (with winnowing's guarantee) correspondingly
    long verbatim character runs, the signal that catches COPIED
    PASSAGES inside otherwise-different documents — which whole-doc
    hashing (:func:`doc_fingerprints`) and word-shingle Jaccard both
    dilute away.

    Scale shape: one distinct (doc_id, fp) relation grouped BY
    fingerprint into per-fp doc lists; lists longer than
    ``WINNOW_MAX_DF`` are dropped whole (boilerplate windows that
    would expand quadratically — the hub guard every candidate
    generator here applies) and pairs expand IN-ROW from the bounded
    list (nested ``transform`` + ``a < b`` filter), so the whole op is
    two hash shuffles (fp, then pair) with NO join at all — the
    posting pipeline is computed exactly once, where a fp-keyed
    self-join would re-derive it per side. Output:
    (doc_a, doc_b, n_shared) with doc_a < doc_b."""
    fps = (
        rolling_fingerprints(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
    )
    lists = (
        fps.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(
            (F.size("ds") >= 2) & (F.size("ds") <= F.lit(WINNOW_MAX_DF))
        )
    )
    pairs = lists.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ds, x -> transform(ds,"
                " y -> struct(x AS doc_a, y AS doc_b)))),"
                " p -> p.doc_a < p.doc_b)"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 over normalized text (lowercase,
    trimmed, whitespace collapsed) — the key an exact-dedup or incremental
    ingest pipeline carries per document."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("long").alias("norm_len"),
    )


SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # remainder is test
SAMPLE_RATES = {"en": 50, "de": 30}  # percent kept per language; default 20


def _hash_bucket(col: str = "doc_id") -> Column:
    """Deterministic 0-99 bucket from md5(doc_id) — the reproducible
    alternative to RNG sampling: stable across runs, engines, and
    cluster sizes (rand()-based sampling is none of those), and
    verifiable against the SQL oracle bit-for-bit."""
    return F.expr(
        f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 100"
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling (language rebalancing — the mix
    step of corpus construction): keep SAMPLE_RATES[lang]% of each
    language's documents, 20% for unlisted languages. A pure shuffle-free
    projection + filter; at 100 TB this is a map-only pass whose output
    ratios are exact in expectation and reproducible exactly."""
    docs = table(spark, sf_dir, "documents")
    rate = F.lit(20)
    for lang, pct in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.withColumn("bucket", _hash_bucket())
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "source", "bucket")
    )


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10 by hash bucket)
    with per-(split, lang) counts — the split manifest a training run
    records. Assignment is a projection; only the tiny count rollup
    shuffles."""
    docs = table(spark, sf_dir, "documents")
    b = _hash_bucket()
    split = (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content LEAKAGE across the train/val/test boundary: for
    each ordered split pair, how many content fingerprints appear on
    BOTH sides and how many documents carry them — the eval-integrity
    check a training run must pass (a val doc whose exact text is also
    in train makes the val loss a memorization read, not a
    generalization one). Composes :func:`dataset_splits`' hash-bucket
    assignment with :func:`...dedup.exact_dedup`'s md5 fingerprint.

    Scale shape: one projection (fingerprint, split), ONE corpus
    hash-shuffle on the 32-byte fingerprint folding the three split
    counts as conditional sums, then a single global aggregate of nine
    conditional sums over that (already fingerprint-cardinality)
    relation, exploded in-row to the 3-row report — no joins, no
    second corpus pass, and the global agg is map-side-combinable.
    ``n_leaked_docs_a`` counts split-a docs whose content also appears
    in split b (within-split extra copies included — each is a doc
    whose loss is contaminated). All-LONG surface; empty-corpus sums
    coalesce to 0 on both engines."""
    docs = table(spark, sf_dir, "documents")
    b = _hash_bucket()
    split = (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    g = (
        docs.select(F.md5(F.col("text")).alias("fingerprint"), split.alias("split"))
        .groupBy("fingerprint")
        .agg(
            *[
                F.sum(F.when(F.col("split") == s, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{s}")
                for s in ("train", "val", "test")
            ]
        )
    )
    def pair_aggs(a: str, b_: str) -> list[Column]:
        both = (F.col(f"n_{a}") > 0) & (F.col(f"n_{b_}") > 0)
        return [
            F.coalesce(F.sum(both.cast("long")), F.lit(0))
            .cast("long")
            .alias(f"{a}_{b_}_fp"),
            F.coalesce(
                F.sum(F.when(both, F.col(f"n_{a}")).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"{a}_{b_}_a"),
            F.coalesce(
                F.sum(F.when(both, F.col(f"n_{b_}")).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"{a}_{b_}_b"),
        ]
    pairs = (("train", "val"), ("train", "test"), ("val", "test"))
    row = g.agg(*[c for a, b_ in pairs for c in pair_aggs(a, b_)])
    arr = F.array(
        *[
            F.struct(
                F.lit(a).alias("split_a"),
                F.lit(b_).alias("split_b"),
                F.col(f"{a}_{b_}_fp").alias("n_shared_fingerprints"),
                F.col(f"{a}_{b_}_a").alias("n_leaked_docs_a"),
                F.col(f"{a}_{b_}_b").alias("n_leaked_docs_b"),
            )
            for a, b_ in pairs
        ]
    )
    return row.select(F.explode(arr).alias("p")).select("p.*")


VOCAB_TOP_K = 20


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-document mean log-probability
    under the corpus's OWN unigram distribution — the cheapest LM-based
    quality signal (documents made of corpus-rare tokens score low,
    boilerplate scores high; the poor man's perplexity filter every
    curation stack runs before a neural one).

    Scale shape: one token shuffle builds the frequency table; at test
    scale it broadcasts, but a WEB-SCALE raw-token vocabulary is
    billions of entries — there the hint comes off and the score join
    becomes an ordinary shuffle join on ``word`` (or the freq table is
    truncated to top-K with an OOV floor, the standard LM-filter
    compromise); Spark's size-based selection makes that regression
    automatic if the hint is dropped. Determinism: p(w) = cnt/total is
    an integer-ratio
    double (identical IEEE division); each token's ``ln p`` is
    micro-quantized to a LONG before the per-doc sum (a raw double sum
    would be accumulation-order-dependent), and the mean divides two
    exact integers before one grid round. ``ln`` itself relies on both
    engines' libm agreeing — empirically exact for tfidf/bm25 across
    two driver rounds."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    # r17 (guide §2.3 aggregate-before-shuffle): everything downstream
    # is a function of the per-doc term frequency, so the token explode
    # runs ONCE into a (doc_id, word, tf) aggregate (map-side partials
    # shrink the only token-scale shuffle); the corpus vocabulary, the
    # token total (a sum over the vocab relation — the old toks.count()
    # re-ran the explode as a second full pass), and the score join all
    # read the tf relation. Per-token sums become tf-weighted integer
    # sums — bit-identical (lp is quantized per WORD before weighting).
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    freq = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    total = freq.agg(F.sum("cnt")).collect()[0][0]  # tiny driver scalar
    logp_micro = F.floor(
        F.log(F.col("cnt") / F.lit(float(total))) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        # size-selected join, deliberately unhinted: the tiny test vocab
        # auto-broadcasts; a web-scale vocab degrades to a shuffle join
        # instead of OOMing the driver (see docstring)
        tf.join(freq, "word")
        .select("doc_id", "tf", logp_micro.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lp")).alias("logprob_micros"),
        )
        .select(
            "doc_id",
            "n_tokens",
            grid_round(
                (F.col("logprob_micros") / F.lit(1e6)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("avg_logprob"),
        )
    )


def contrastive_negatives(
    spark: SparkSession, sf_dir: str, k: int = 4
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document gets ``k`` pseudo-random partner documents derived from
    ``md5(doc_id:i)`` — never itself (self-collisions shift one rank),
    reproducible across runs, engines, and cluster sizes (``rand()`` is
    none of those, and a non-reproducible negative set makes training
    runs uncomparable).

    Shape: the doc-rank map (row_number over doc_id — robust to id
    gaps) is |docs| rows; the k-way fan-out is an in-row
    ``explode(sequence(...))``; two joins resolve the hashed rank to a
    real doc_id (broadcast at test scale). Scale honesty: a GLOBAL
    row_number is a single-partition sort — at billions of docs the
    rank map is instead built once by a distributed sort +
    zipWithIndex-style job (the contiguous id-map every training
    pipeline maintains anyway) and the rank joins become shuffle joins
    on the rank key; the per-negative hashing itself stays map-only at
    any scale."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()  # tiny driver scalar (the corpus size)
    w = Window.orderBy("doc_id")
    ranked = docs.select(
        "doc_id", (F.row_number().over(w) - 1).cast("long").alias("rnk")
    )
    fan = ranked.select(
        "doc_id",
        "rnk",
        F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("neg_i"),
    )
    h = F.expr(
        "CAST(conv(substr(md5(concat_ws(':', CAST(doc_id AS STRING), "
        "CAST(neg_i AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    ) % F.lit(n)
    picked = fan.withColumn(
        "neg_rnk",
        F.when(h == F.col("rnk"), (h + 1) % F.lit(n)).otherwise(h),
    )
    neg = ranked.select(
        F.col("rnk").alias("neg_rnk"), F.col("doc_id").alias("neg_doc_id")
    )
    # the rank->doc map is one row per document — unhinted (r15 hint
    # discipline): AQE broadcasts at test scale, and at billions of
    # docs this becomes the shuffle join the docstring's scale-honesty
    # note describes, instead of a forced corpus-wide broadcast
    return (
        picked.join(neg, "neg_rnk")
        .select("doc_id", "neg_i", "neg_doc_id")
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: the fraction of all corpus tokens falling in
    the top-K most frequent words — the check run before fixing a
    tokenizer/vocab size. Two-level plan: exact word counts (one
    shuffle), deterministic top-K (count desc + word tiebreak,
    TakeOrdered — no global sort), then a broadcast semi-flag join back
    over the token stream and a single global ratio row. The top-K list
    is K rows, broadcastable at any corpus scale."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    topk = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(VOCAB_TOP_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(topk), "word", "left")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0)))
            .cast("long")
            .alias("n_covered"),
            grid_round(
                F.sum(F.coalesce(F.col("in_vocab"), F.lit(0)))
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )


SEQ_TOKEN_BUDGET = 256  # tokens per packed training sequence


def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents in
    deterministic (doc_id) order and cut every SEQ_TOKEN_BUDGET tokens —
    each doc gets the bin it STARTS in and its token offset there (the
    GPT-style contiguous packing layout, where a doc may spill into the
    next bin and no padding is wasted).

    Pure window arithmetic: a running token total per source, then
    integer div/mod by the budget. Packing is per ``source`` shard —
    the scale contract: a global ORDER BY would serialize the corpus
    through one partition, while shard-local packing (how real corpora
    are stored: one packer per input shard) keeps the window partitioned
    and each shard's layout independent of cluster size."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = docs.select(
        "doc_id", "source", n_tok.alias("n_tokens")
    ).withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return with_cum.select(
        "doc_id",
        "source",
        "n_tokens",
        (start / SEQ_TOKEN_BUDGET).cast("long").alias("bin_id"),
        (start % SEQ_TOKEN_BUDGET).cast("long").alias("offset_in_bin"),
    )


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics — the Gopher-rules repetition
    filter (Rae et al. 2021 §A1.1): fraction of duplicate words and
    fraction of duplicate word-3-grams per document. High values flag
    boilerplate/spam for removal before LLM training.

    A pure narrow projection: tokens and n-grams are array expressions
    that never leave the row (no explode, no shuffle), so at 100 TB this
    is a scan-speed map pass like the rest of this module. Fractions are
    ``1 - distinct/total`` of integer counts — both engines divide the
    same two integers in IEEE double and land on the same grid_round
    result. Documents with fewer than 3 tokens are dropped (no 3-gram is
    defined; mirrored in the oracle).

    The token and n-gram arrays are materialized in STAGED projections
    (toks, then ng, then the fractions): inlining them into one select
    made codegen evaluate ``split(text)`` ~8x and the 3-gram transform
    2x per row (higher-order-function subtrees are exempt from codegen
    subexpression elimination), which both tripled the median runtime
    and widened the JIT-warmup spread the round-3 bench flagged as
    unexplained variance. Catalyst's CollapseProject keeps the stages
    separate precisely because merging would duplicate the non-cheap
    expressions — measured 2.9x faster at sf0.1 (median 0.73s ->
    0.25s), bit-identical output."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    staged = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.expr("size(toks) >= 3"))
        # n-grams as structs, not joined strings: array_distinct on
        # struct<tok,tok,tok> counts exactly the same groups (tokens
        # cannot contain the split character) but skips per-n-gram
        # string allocation — measured 3x faster at sf0.1. The oracle
        # keeps the string form; only the distinct COUNT crosses the
        # contract edge. r17: the struct array IS the trimmed
        # arrays_zip of offset slices — no lambda at all (the
        # shingles()/BPE rewrite, guide §1.2 step 2).
        .select(
            "doc_id",
            "toks",
            F.expr(
                "slice(arrays_zip(toks,"
                " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                " slice(toks, 3, greatest(size(toks) - 2, 0))),"
                " 1, greatest(size(toks) - 2, 0))"
            ).alias("ng"),
        )
    )

    def dup_frac(arr: str) -> str:
        return (
            f"CAST(floor((1.0D - CAST(size(array_distinct({arr})) AS DOUBLE)"
            f" / size({arr})) * 1000000.0D + 0.5D) / 1000000.0D AS DOUBLE)"
        )

    return staged.select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
        F.expr(dup_frac("toks")).alias("dup_word_frac"),
        F.expr(dup_frac("ng")).alias("dup_3gram_frac"),
    )


def length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching histogram: documents bucketed by
    power-of-two token count (bucket b holds 2^b <= n_tokens < 2^(b+1)),
    with the padding waste a naive pad-to-bucket-max batcher would pay
    (``n_docs * max_tokens - sum_tokens``). The standard pre-training
    scheduler diagnostic next to :func:`packed_sequences` (which packs
    instead of padding).

    One narrow projection + one tiny aggregate (≤ ~15 bucket groups
    regardless of corpus size); every measure is integer arithmetic, so
    the contract edge has no float at all. floor(log2(n)) is exact for
    IEEE doubles at these magnitudes (log2 of 2^k is exactly k; between
    powers the floor is unambiguous)."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    b = (
        docs.filter(_n_tokens() >= 1)
        .select(F.size(F.split(F.col("text"), " ")).alias("nt"))
        .select(
            F.expr(
                "CAST(floor(log2(CAST(nt AS DOUBLE))) AS BIGINT)"
            ).alias("bucket"),
            F.col("nt").cast("long").alias("n_tokens"),
        )
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .withColumn(
            "padding_waste",
            F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens"),
        )
    )


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card: per (lang, source) shard — document count,
    mean token length, short-document fraction (< 8 tokens), and mean
    type-token ratio (lexical diversity). The one-page summary a
    curation run prints before/after filtering.

    One narrow projection + one aggregate on the (lang, source) key.
    Contract edges: per-doc TTR snaps to the 1e-6 grid FIRST (an exact
    integer in micro-units), so every group mean is an integer-sum /
    count division — order-independent and engine-identical; token
    counts are already integers."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    # staged split (see doc_quality_scores: HOFs defeat codegen CSE)
    base = docs.select(
        "lang", "source", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "lang",
        "source",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
        F.expr(
            "CAST(floor(CAST(size(array_distinct(toks)) AS DOUBLE)"
            " / size(toks) * 1000000.0D + 0.5D) AS BIGINT)"
        ).alias("ttr_micro"),
        F.expr(
            "CASE WHEN size(toks) < 8 THEN 1L ELSE 0L END"
        ).alias("is_short"),
    )
    n = F.count(F.lit(1))
    return base.groupBy("lang", "source").agg(
        n.alias("n_docs"),
        grid_round(F.sum("n_tokens") / n, 6).alias("mean_tokens"),
        grid_round(F.sum("is_short") / n, 6).alias("short_doc_frac"),
        grid_round(F.sum("ttr_micro") / n / F.lit(1e6), 6).alias("mean_ttr"),
    )


# C4-style bad-word blocklist for the scrub op — three real corpus
# tokens so the mechanism (hit counting, token removal, keep/drop
# thresholding) is exercised on every scale, not a no-op.
BLOCKLIST = ("slow", "dup", "big")


def blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist scrubbing (the C4 filter, Raffel et al. 2020 §2.2,
    re-expressed as a scrub + threshold): per document, count blocklist
    token hits, remove them, and keep the document only when hits stay
    under 5% of tokens. Emits the scrubbed text as an md5 fingerprint so
    the contract surface stays narrow.

    Everything is a native array expression — ``filter`` lambdas over
    the token array, no regex (regex dialects differ across engines; set
    membership does not), no shuffle at all: a pure scan-speed map pass.
    The keep rule is the integer comparison ``20 * n_hits < n_tokens``
    (exactly "hit fraction < 5%") — no float anywhere."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    lst = ", ".join(f"'{w}'" for w in BLOCKLIST)
    # stage split AND the hit filter once (HOFs defeat codegen CSE; the
    # inlined form ran the blocklist filter three times per row)
    staged = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "doc_id",
        "toks",
        F.expr(f"filter(toks, t -> t IN ({lst}))").alias("hits"),
    )
    return staged.select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(size(hits) AS BIGINT)").alias("n_hits"),
        F.expr(
            f"md5(array_join(filter(toks, t -> NOT t IN ({lst})), ' '))"
        ).alias("scrub_md5"),
        F.expr(
            "CAST(CASE WHEN 20 * size(hits)"
            " < size(toks) THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("keep_flag"),
    )


def source_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency SLOPE: the least-squares slope of
    ln(count) against ln(rank) over each source's word-frequency
    distribution — the classic is-this-natural-language signal (clean
    prose reads near -1; templated/boilerplate output flattens toward
    0 because many words share the same count; random-ID spam flattens
    for the opposite reason). A curation pipeline reads this NEXT TO
    the per-doc quality scores: it is a SOURCE-level distributional
    check no per-document statistic can express.

    Plan: one token-count aggregate (the only corpus-scale shuffle,
    keyed on (source, word) with map-side partials), a rank window
    over the per-source VOCABULARY (the aggregated relation — orders
    of magnitude below the corpus, but still a one-task-per-source
    sort that grows with corpus under Heaps' law; at extreme
    vocabulary use :func:`source_zipf_slope_grouped`, whose rank()
    tie ranges come from the far smaller (source, count) distinct
    relation — the registered scale tier), then one closed-form
    regression per source: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2).

    Determinism: ranks are unique (count desc, word tiebreak); each
    per-word term quantizes to a 1e-6 LONG BEFORE the sum (integer
    sums are associative — partitioning cannot flip them); the final
    slope arithmetic runs the same IEEE ops in the same order in the
    oracle and grid-rounds to 1e-6. A single-word vocabulary has a
    zero denominator — slope is DEFINED as 0.0 there (no distribution
    to fit), mirrored in the oracle."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    counts = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "word")
    ranked = counts.select(
        "source",
        "c",
        F.row_number().over(w).cast("long").alias("rk"),
    )
    mu = lambda e: F.expr(f"CAST(floor(({e}) * 1000000.0 + 0.5) AS BIGINT)")
    terms = ranked.select(
        "source",
        mu("ln(rk)").alias("x"),
        mu("ln(c)").alias("y"),
        mu("ln(rk) * ln(rk)").alias("xx"),
        mu("ln(rk) * ln(c)").alias("xy"),
    )
    agg = terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
    )
    num = (
        F.col("n_vocab") * (F.col("sxy") / F.lit(1e6))
        - (F.col("sx") / F.lit(1e6)) * (F.col("sy") / F.lit(1e6))
    )
    den = (
        F.col("n_vocab") * (F.col("sxx") / F.lit(1e6))
        - (F.col("sx") / F.lit(1e6)) * (F.col("sx") / F.lit(1e6))
    )
    slope = F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)
    return agg.select(
        "source",
        "n_vocab",
        grid_round(slope, 6).alias("zipf_slope"),
    )


def source_zipf_slope_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale tier of :func:`source_zipf_slope` (VERDICT r16 item 2): the
    same per-source ln(count)-on-ln(rank) regression, with RANK()
    tie-aware ranks computed from the (source, count) DISTINCT relation
    instead of a row_number window over the full vocabulary. Every word
    with count ``c`` takes rank ``1 + #{words with a larger count}``
    (the min of its row_number tie range), so the regression terms for
    a whole tie group are ``m x term(rk, c)`` — the per-word relation
    is never ranked at all.

    Why this is the 100 TB form: the exact tier's rank window sorts
    each source's FULL vocabulary in one task (10^8+ rows for a crawl
    source under Heaps' law — the one-task sort the r16 verdict
    flagged). Here the window sorts the per-source DISTINCT COUNT
    relation, whose size is bounded by sqrt(2 x tokens_in_source)
    (counts are positive integers summing to the token total, so at
    most ~sqrt(2N) distinct values exist) — ~10^5 rows per source at
    100 TB, one-task sortable forever. Everything upstream of that
    window is a mergeable aggregate: the corpus token-count shuffle
    (shared shape with the exact tier), then a second map-side-
    combinable aggregate onto (source, count). ``n_groups`` (distinct
    count values) rides along as the tie-structure diagnostic.

    Agreement contract with the exact tier (pytest-pinned): identical
    output when no two words of a source share a count (tie ranges of
    one make rank() == row_number()); on tied corpora the slopes track
    within a small bracket — ties concentrate in the low-count tail
    where rank() pins each group at its leftmost (largest-magnitude
    ln) position. Same determinism discipline as the exact tier:
    per-GROUP terms micro-quantize to LONGs before the (associative)
    integer sums, multiplied by the exact integer group size; the
    closed-form slope runs identical IEEE ops in both engines;
    single-word vocabularies define slope 0.0."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    counts = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grp = counts.groupBy("source", "c").agg(F.count(F.lit(1)).alias("m"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = grp.select(
        "source",
        "c",
        "m",
        (F.coalesce(F.sum("m").over(w), F.lit(0)) + F.lit(1))
        .cast("long")
        .alias("rk"),
    )
    mu = lambda e: F.expr(f"CAST(floor(({e}) * 1000000.0 + 0.5) AS BIGINT)")
    terms = ranked.select(
        "source",
        "m",
        (F.col("m") * mu("ln(rk)")).alias("x"),
        (F.col("m") * mu("ln(c)")).alias("y"),
        (F.col("m") * mu("ln(rk) * ln(rk)")).alias("xx"),
        (F.col("m") * mu("ln(rk) * ln(c)")).alias("xy"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_vocab"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
    )
    num = (
        F.col("n_vocab") * (F.col("sxy") / F.lit(1e6))
        - (F.col("sx") / F.lit(1e6)) * (F.col("sy") / F.lit(1e6))
    )
    den = (
        F.col("n_vocab") * (F.col("sxx") / F.lit(1e6))
        - (F.col("sx") / F.lit(1e6)) * (F.col("sx") / F.lit(1e6))
    )
    slope = F.when(den == 0.0, F.lit(0.0)).otherwise(num / den)
    return agg.select(
        "source",
        "n_vocab",
        "n_groups",
        grid_round(slope, 6).alias("zipf_slope"),
    )


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mixing
    diagnostic a pretraining run reads before weighting sources (two
    crawls with ~identical vocabularies add less diversity than their
    token counts suggest).

    Scale shape: the per-source distinct vocabulary is one
    explode+distinct (shuffle keyed on (source, token) — linear);
    the pair expansion joins vocabularies on the TOKEN (posting-list
    style, like the shingle pair generator) so cost is bounded by
    per-token source lists, never |vocab_a| x |vocab_b|. Output is
    O(sources^2) rows — a driver-scale report. Integer-ratio Jaccard
    on the 1e-6 grid."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    # cached (r17, guide §2.4): three consumers (the size aggregate and
    # both sides of the token join) re-ran the explode+distinct pass
    v = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct().cache()
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        v.alias("a")
        .join(v.alias("b"), "token")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "c",
            grid_round(
                F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")), 6
            ).alias("jaccard"),
        )
    )


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling — the data-mixing step
    that keeps each document with probability equal to its quality
    score (the DoReMi/importance-mixing shape, with the model-learned
    weight replaced by the heuristic score). Unlike
    :func:`stratified_sample`'s fixed per-language rates, the keep
    probability here varies per row.

    Same reproducibility contract as every sampler in this module: the
    uniform draw is md5(doc_id) — stable across runs, engines, and
    cluster sizes — and the comparison is INTEGER (micro-grid units on
    both sides), so the kept set is bit-identical everywhere. Map-only
    pass over the quality projection; no shuffle."""
    q = doc_quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    u = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 1000000"
    )
    thr = F.floor(F.col("quality_score") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    return (
        q.select("doc_id", "quality_score", u.alias("u"))
        .filter(F.col("u") < thr)
    )


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair counts over the corpus — the statistic one
    BPE/WordPiece merge step maximizes (count with MULTIPLICITY, unlike
    the distinct shingle relation). Emits every pair with its count and
    global rank (count desc, pair asc — a total order, so ranks are
    engine-identical); rank 1 is the merge a tokenizer trainer would
    apply next.

    Scale shape (r18): per-batch Arrow partial counts (see
    :func:`_pair_partials_arrow` — the flat values buffer is both pair
    sides, zero-copy) aggregate into at most |vocab|^2 groups; the
    rank window runs over that driver-scale aggregate, not the
    corpus. Tokens come from an UNFILTERED split (unlike the BPE
    corpus arrays), so empty tokens participate exactly as before;
    (l, r) -> concat_ws pair strings is a bijection because split
    tokens cannot contain the separator, so grouping by the pair
    string and grouping by (l, r) are the same partition of rows."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("toks"))
    counts = (
        _pair_partials_arrow(toks, "toks")
        .groupBy("l", "r")
        .agg(F.sum("pair_count").alias("n"))
        .select(F.concat_ws(" ", "l", "r").alias("pair"), "n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return counts.select(
        "pair", "n", F.row_number().over(w).cast("long").alias("rank")
    )


CAP_PER_SOURCE = 10


def per_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the per-domain cap every web-scale
    curation pipeline applies so one prolific host cannot dominate the
    mix: keep the CAP_PER_SOURCE highest-quality documents per source
    (quality desc, doc_id asc tiebreak so ranks are total-ordered on
    both engines).

    Scale shape: quality is the shuffle-free per-row projection from
    :func:`doc_quality_scores`; the cap is ONE ``row_number`` window
    over a hash shuffle on source. A skewed source (one domain = half
    the crawl) would pre-aggregate with a per-partition top-K
    (``rank <= K`` inside mapPartitions) before the global window —
    the same two-phase trick as salted top-k — but the window itself
    never materializes more than the scan. All comparisons integer or
    grid-quantized."""
    quality = doc_quality_scores(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        src.join(quality, "doc_id")
        .select(
            "doc_id",
            "source",
            "quality_score",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= CAP_PER_SOURCE)
    )


def quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal calibration: are near-duplicates concentrated in
    low-quality documents? Documents are cut into ten fixed-width
    quality bands (``floor(quality * 10)``, clamped to band 9) and each
    band reports its near-dup rate — membership in any LSH candidate
    pair. The standard sanity check before using quality as a
    dedup-survivor tiebreak: if dup-rate is flat across bands the two
    signals are independent and compose; if not, thresholding one
    silently shifts the other.

    Fixed-width bands, NOT ntile deciles, by design twice over: an
    equal-population decile needs a global sort (ntile over an
    unpartitioned window single-threads the corpus — a scale killer),
    and percentile-boundary assignment puts an interpolated DOUBLE on
    the hashed contract edge. The band index instead is a map-side
    integer computed from the micro-grid quality (quality is already
    1e-6-quantized, so ``floor(q_micros / 100000)`` is pure integer
    arithmetic — no knife-edge, no shuffle before the 10-row
    aggregate). The dup-doc id set comes from the banded LSH pair
    relation (collision buckets only), unioned over both pair ends and
    deduped — joined UNHINTED (r15 discipline: on a duplicate-heavy
    corpus the dup-id set approaches corpus cardinality, so a forced
    broadcast is exactly the wrong call at scale; AQE broadcasts it
    while it is genuinely small)."""
    from geektime_bigdata_spark.operators.dedup import minhash_lsh_pairs

    quality = doc_quality_scores(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    pairs = minhash_lsh_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    # integer division — no double ever touches the band index
    band = F.least(
        F.expr(
            "CAST(floor(quality_score * 1000000.0 + 0.5) AS BIGINT)"
            " div 100000"
        ),
        F.lit(9).cast("long"),
    ).cast("long")
    banded = quality.join(dup_ids, "doc_id", "left").select(
        band.alias("band"),
        F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup"),
        "quality_score",
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").alias("n_neardup"),
        grid_round(F.sum("is_dup") / F.count(F.lit(1)), 6).alias("dup_rate"),
        grid_round(F.min("quality_score"), 6).alias("min_quality"),
        grid_round(F.max("quality_score"), 6).alias("max_quality"),
    )


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixture weights — the multinomial
    sampling computation multilingual/multi-source LM training uses to
    keep big sources from drowning small ones: weight_i proportional to
    p_i^alpha with alpha = 0.5. The exponent is realized as ``sqrt``
    DELIBERATELY: IEEE 754 requires sqrt to be correctly rounded, so
    both engines produce bit-identical smoothed masses, whereas a
    general ``pow(p, 0.7)`` is libm-dependent — at scale any alpha
    works, but the checkable contract ships the exact one.

    Determinism: each source's smoothed mass is micro-quantized to LONG
    before the normalizing total (a double sum over sources would be
    accumulation-order-dependent); the weight is one LONG/LONG divide
    on the 1e-6 grid. The aggregate is |sources| rows — driver-scale;
    the only corpus-scale work is the per-source token count (one
    shuffle)."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_tokens()).alias("n_tokens"),
    )
    mass = F.floor(
        F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    massed = per_src.withColumn("mass_micros", mass)
    total = massed.agg(
        F.sum("mass_micros").alias("total_micros")
    )
    return massed.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        grid_round(F.col("mass_micros") / F.col("total_micros"), 6).alias(
            "mix_weight"
        ),
    )


def token_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical entropy: H = -sum over types of p ln p with
    p = tf / n_tokens — the information-density quality signal
    (templated/repetitive text scores low, diverse text high) next to
    the ratio-based :func:`doc_quality_scores` and the corpus-relative
    :func:`unigram_logprob_scores`.

    Determinism follows the unigram-logprob precedent: p is an
    integer-ratio double, each type's ``p * ln p`` term is
    micro-quantized to LONG before the per-doc sum (associative), and
    the final negation/division is one grid round. ``ln`` relies on
    both engines' libm agreeing — empirically exact across three driver
    rounds of tfidf/bm25/logprob. One (doc, word) shuffle, output is
    one row per doc."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # r17 (guide §2.4): n_tokens comes from a window over the SAME
    # doc_id key instead of a self-join — the old plan computed the tf
    # aggregate twice (once per join side) and paid a third exchange
    # for the join; the window reuses one doc_id-partitioned exchange
    # and the final aggregate rides the same partitioning (doc_id is a
    # subset of its grouping key), so the whole op is two exchanges.
    n_tokens = F.sum("tf").over(Window.partitionBy("doc_id"))
    p = F.col("tf") / F.col("n_tokens")
    term_micros = F.floor(
        p * F.log(p) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        tf.withColumn("n_tokens", n_tokens)
        .select(
            "doc_id",
            "n_tokens",
            term_micros.alias("tm"),
        )
        .groupBy("doc_id", "n_tokens")
        .agg(F.sum("tm").alias("neg_entropy_micros"))
        .select(
            "doc_id",
            "n_tokens",
            grid_round(
                -(F.col("neg_entropy_micros") / F.lit(1e6)).cast("double"),
                6,
            ).alias("entropy"),
        )
    )


def lang_source_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``LISTAGG`` (new in Spark 4.1): per language, the ordered
    distinct source list as one delimited string — the A3
    set-collect-to-string surface in its standard-SQL spelling
    (``WITHIN GROUP (ORDER BY ...)`` makes the concatenation order part
    of the QUERY, where ``concat_ws(sort_array(collect_set(...)))``
    buries it in expression nesting). DuckDB mirrors with
    ``string_agg(DISTINCT ... ORDER BY ...)``. One hash shuffle; the
    per-group string is bounded by |sources|."""
    return spark.sql(
        """
        SELECT lang,
               count(*) AS n_docs,
               listagg(DISTINCT source, ',')
                   WITHIN GROUP (ORDER BY source) AS sources
        FROM {documents}
        GROUP BY lang
        """,
        documents=table(spark, sf_dir, "documents"),
    )


BPE_TRAIN_STEPS = 2


def _bpe_merges(
    spark: SparkSession, sf_dir: str, rounds: int, k: int
) -> tuple[DataFrame, DataFrame, list]:
    """The greedy BPE merge loop every BPE query shares: ``rounds``
    corpus passes, each ONE pair-count aggregate (the only shuffle),
    a collected top-``k`` window ranked by (count desc, pair asc) and
    an in-row application of the window's kept pairs
    (:func:`_bpe_apply`). A candidate is KEPT iff its symbol set
    {left, right, merged} is disjoint from that of EVERY higher-ranked
    candidate in the window (kept or not); at ``k=1`` that is the
    serial one-merge-per-pass rule. Stops early when the corpus has no
    pair left.

    Returns ``(arrs, docs, steps)``: the checkpointed input corpus,
    the merged corpus, and per pass ``(kept_rows, docs_after)``."""
    arrs = _bpe_corpus_arrays(spark, sf_dir).localCheckpoint()
    docs = arrs
    steps = []
    for _ in range(rounds):
        # the window is <= k rows — collect it and run the disjointness
        # filter driver-side: a broadcast + checkpoint plan for it cost
        # 2-3 more jobs per pass (r18)
        window = (
            _bpe_pair_counts_from(docs)
            .withColumn("pair", F.concat_ws(" ", F.col("l"), F.col("r")))
            .orderBy(F.col("pair_count").desc(), F.col("pair"))
            .limit(k)
            .collect()
        )
        kept = []
        for rn, cand in enumerate(window):
            syms = {cand["l"], cand["r"], f"{cand['l']}_{cand['r']}"}
            if not any(
                syms & {hi["l"], hi["r"], f"{hi['l']}_{hi['r']}"}
                for hi in window[:rn]
            ):
                kept.append(cand)
        if not kept:
            break  # empty corpus: nothing to learn this pass
        docs = _bpe_apply(docs, [(c["l"], c["r"]) for c in kept])
        steps.append((kept, docs))
    return arrs, docs, steps


def _bpe_train(
    spark: SparkSession, sf_dir: str, rounds: int, k: int
) -> DataFrame:
    """(step, merge_rank, pair, pair_count, n_tokens_after) for the
    kept pairs of each pass of :func:`_bpe_merges`."""
    out = None
    for step, (kept, docs) in enumerate(
        _bpe_merges(spark, sf_dir, rounds, k)[2], start=1
    ):
        n_after = docs.agg(
            F.sum(F.size("arr")).cast("long").alias("n_tokens_after")
        )
        rows = n_after.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(step).cast("long").alias("step"),
                            F.lit(mr + 1).cast("long").alias("merge_rank"),
                            F.lit(c["pair"]).alias("pair"),
                            F.lit(c["pair_count"])
                            .cast("long")
                            .alias("pair_count"),
                        )
                        for mr, c in enumerate(kept)
                    ]
                )
            ).alias("s"),
            "n_tokens_after",
        ).select(
            "s.step", "s.merge_rank", "s.pair", "s.pair_count",
            "n_tokens_after",
        )
        out = rows if out is None else out.unionByName(rows)
    if out is None:
        return spark.createDataFrame(
            [], "step long, merge_rank long, pair string,"
            " pair_count long, n_tokens_after long"
        )
    return out


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING loop (BPE_TRAIN_STEPS greedy merges over
    the corpus) — ARRAY-NATIVE since round 4: the corpus stays
    (doc_id, token-array) and each step is ONE pair-count aggregate
    (the only shuffle) + the collected winning pair + an in-row
    left-to-right merge fold (see _bpe_apply) — where the earlier
    exploded-stream formulation ran three window passes and two joins
    over the full token stream per step. Same greedy left-to-right
    semantics (the fold IS the textbook definition — no run/parity
    algebra needed when the merge happens sequentially within the
    row); the DuckDB oracle and the hypothesis greedy-replay fuzz are
    unchanged and pin the equivalence. It is the batched trainer at
    ``k=1``. Emits (step, pair, pair_count, n_tokens_after); the token
    trail validates merge APPLICATION, not just pair selection."""
    return _bpe_train(spark, sf_dir, BPE_TRAIN_STEPS, 1).drop("merge_rank")


MIX_TOKEN_BUDGET = 1_000_000  # target training tokens to allocate
TRUNC_MAX_TOKENS = 128  # sequence length cap for the truncation report


def mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources — the planning arithmetic
    behind an LM data mixture: each source's temperature-smoothed
    weight (:func:`source_mix_weights`' sqrt contract) times the total
    budget gives its target tokens, and target/available yields the
    EPOCH factor (>1 = the source repeats, <1 = it is subsampled) —
    the number every mixture spec ultimately ships.

    Determinism: weights stay in integer micro-units; target_tokens =
    ``budget * mass DIV total`` is pure integer arithmetic, and the
    epoch factor is one LONG/LONG divide on the grid. Driver-scale
    output (|sources| rows); the only corpus-scale work is the token
    count already shared with the weights query."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_tokens()).alias("n_tokens"),
    )
    mass = F.floor(
        F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    massed = per_src.withColumn("mass_micros", mass)
    total = massed.agg(F.sum("mass_micros").alias("total_micros"))
    alloc = massed.crossJoin(F.broadcast(total)).select(
        "source",
        "n_tokens",
        F.expr(
            f"CAST({MIX_TOKEN_BUDGET} AS BIGINT) * mass_micros"
            " div total_micros"
        ).alias("target_tokens"),
    )
    return alloc.select(
        "source",
        "n_tokens",
        "target_tokens",
        grid_round(F.col("target_tokens") / F.col("n_tokens"), 6).alias(
            "epoch_factor"
        ),
    )


def truncation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length truncation audit: with a TRUNC_MAX_TOKENS cap,
    how many documents lose tokens per language and how much — the
    check run before fixing a training context length (a cap that
    silently discards 30% of a language's tokens is a data bug). One
    shuffle-free projection + one aggregate; all-integer surface plus
    one integer-ratio grid double."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    n = _n_tokens().cast("long")
    lost = F.greatest(n - F.lit(TRUNC_MAX_TOKENS), F.lit(0).cast("long"))
    per_doc = docs.select(
        "lang", n.alias("n_tokens"), lost.alias("lost")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("lost") > 0).cast("long")).alias("n_truncated"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("lost").alias("tokens_lost"),
        grid_round(F.sum("lost") / F.sum("n_tokens"), 6).alias(
            "lost_frac"
        ),
    )

BPE_BATCH_ROUNDS = 2  # corpus passes in the batched trainer
BPE_BATCH_K = 4  # merge candidates considered per pass


def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training: learn up to ``BPE_BATCH_K`` SYMBOL-DISJOINT
    merges per corpus pass instead of one — the variant that makes a
    real tokenizer build (10k+ merges) feasible, since corpus passes
    shrink from ``n_merges`` to ``~n_merges/k``.

    Selection rule (deterministic, mirrored exactly in the oracle):
    rank the round's pairs by (count desc, pair asc); a candidate in
    the top-``k`` window is KEPT iff its symbol set {left, right,
    merged} is disjoint from that of EVERY higher-ranked candidate in
    the window (kept or not). Kept pairs are therefore pairwise
    disjoint, so applying them simultaneously equals applying them
    sequentially — and since round 4 the application IS simultaneous:
    the kept set goes into the same in-row left-to-right fold
    the serial trainer uses (the replace chain matches ANY kept
    pair at each position; disjointness guarantees the fold never has
    to choose between overlapping kept pairs). One pair-count shuffle
    per round, everything else in-row. Output: (step, merge_rank,
    pair, pair_count, n_tokens_after)."""
    return _bpe_train(spark, sf_dir, BPE_BATCH_ROUNDS, BPE_BATCH_K)


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE side of BPE: apply the merges
    :func:`bpe_train_merges` learns (same greedy corpus-top-pair rule,
    same in-row left-to-right fold) and emit each document's encoded
    stream as (n_tokens, md5 fingerprint of the space-joined tokens) —
    the narrow, hashable surface of "tokenize the corpus with the
    trained tokenizer". Array-native like the trainer: one pair-count
    shuffle per learned merge, the application in-row, and the final
    fingerprint needs NO sort at all (the array is already in document
    order). The oracle reuses the trainer's unrolled CTE chain with a
    per-document final aggregate, so train and encode verify each
    other."""
    docs = _bpe_merges(spark, sf_dir, BPE_TRAIN_STEPS, 1)[1]
    return docs.filter(F.size("arr") >= 1).select(
        "doc_id",
        F.size("arr").cast("long").alias("n_tokens"),
        F.md5(F.array_join("arr", " ")).alias("encoded_md5"),
    )


def bpe_compression_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE compression of the trained BPE merges — the
    tokenizer-fairness diagnostic next to :func:`bpe_encode_corpus`: a
    tokenizer trained on the corpus MIX compresses sources unevenly,
    and the source whose text the learned merges barely touch pays
    more tokens per word at training time (the fertility argument,
    word-level). One row per source: docs, words in, tokens out,
    merges applied, and the compression fraction achieved by
    ``BPE_TRAIN_STEPS`` greedy merges.

    Plan shape: identical to the encode pass (array-native corpus,
    one pair-count shuffle per learned merge, in-row application),
    plus one per-source aggregate over the (doc_id, before, after)
    integer surface joined to the documents (doc_id, source)
    projection — all corpus-linear, no new expansion. Compression is
    the single integer-ratio grid double; everything else is LONGs.
    The oracle reuses the encode oracle's unrolled merge chain with a
    per-source final rollup, so encode and this report verify each
    other's merge sequence."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    arrs, enc, _ = _bpe_merges(spark, sf_dir, BPE_TRAIN_STEPS, 1)
    before = arrs.select(
        "doc_id", F.size("arr").cast("long").alias("n_before")
    ).filter(F.col("n_before") >= 1)
    after = enc.filter(F.size("arr") >= 1).select(
        "doc_id", F.size("arr").cast("long").alias("n_after")
    )
    agg = (
        before.join(after, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_before").cast("long").alias("words_before"),
            F.sum("n_after").cast("long").alias("tokens_after"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "words_before",
        "tokens_after",
        (F.col("words_before") - F.col("tokens_after"))
        .cast("long")
        .alias("merges_applied"),
        grid_round(
            F.lit(1.0) - F.col("tokens_after") / F.col("words_before"), 6
        ).alias("compression"),
    )


LOGREG_FEATURES = 4  # bias + 3 quality features


def quality_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full-batch gradient steps of logistic regression predicting
    the blocklist keep flag from quality features — the ML-training
    primitive next to :func:`...similarity.kmeans_step`: a quality
    CLASSIFIER is how production curation generalizes beyond
    hand-written rules, and its training loop at corpus scale is
    exactly this shape (per-row gradient contributions folded by one
    aggregate per step; the weight vector — the only driver-scale
    state — broadcast back).

    Features per doc: x0 = 1 (bias), x1 = min(n_tokens/100, 1),
    x2 = distinct_ratio, x3 = 1 - stopword_ratio (all snapped to the
    1e-6 grid first); label y = the blocklist keep rule
    (20 * hits < n_tokens). Step 1 starts at w = 0 where the sigmoid
    is EXACTLY 0.5 (no transcendental at all); step 2 evaluates the
    real sigmoid at w1 with the exp/grid recipe the recency oracle
    proved engine-identical: z accumulates per-feature micro-quantized
    products as integers, p = 1/(1+exp(-z)) snaps to the grid BEFORE
    entering the gradient, and each gradient term micro-quantizes
    before the integer fold — every hashed value is identical IEEE ops
    in both engines. Output: one row per feature,
    (feature, w_micros after step 1, grad_micros at w1)."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    stop_arr = ", ".join("'" + w + "'" for w in STOPWORDS)
    lst = ", ".join(f"'{w}'" for w in BLOCKLIST)
    staged = docs.select(F.split(F.col("text"), " ").alias("toks")).select(
        "toks",
        F.expr("size(toks)").alias("n"),
        F.expr(f"size(filter(toks, t -> t IN ({lst})))").alias("hits"),
        F.expr("size(array_distinct(toks))").alias("n_types"),
        F.expr(
            f"size(filter(toks, w -> w IN ({stop_arr})))"
        ).alias("n_stop"),
    )
    feats = staged.select(
        F.expr("CASE WHEN 20 * hits < n THEN 1 ELSE 0 END").alias("y"),
        F.lit(1.0).alias("x0"),
        F.expr(
            "floor(least(n / 100.0D, 1.0D) * 1000000.0D + 0.5D)"
            " / 1000000.0D"
        ).alias("x1"),
        F.expr(
            "floor((CAST(n_types AS DOUBLE) / n) * 1000000.0D + 0.5D)"
            " / 1000000.0D"
        ).alias("x2"),
        F.expr(
            "floor((1.0D - CAST(n_stop AS DOUBLE) / n) * 1000000.0D"
            " + 0.5D) / 1000000.0D"
        ).alias("x3"),
    ).localCheckpoint()  # two gradient passes read the same features

    def grad_cols(p_expr: str) -> list:
        return [
            F.expr(
                f"CAST(sum(CAST(floor(({p_expr} - y) * x{k}"
                f" * 1000000.0D + 0.5D) AS BIGINT)) AS BIGINT)"
            ).alias(f"g{k}")
            for k in range(LOGREG_FEATURES)
        ] + [F.count(F.lit(1)).alias("n_docs")]

    # step 1: w = 0 -> p = 0.5 exactly
    g0 = feats.agg(*grad_cols("0.5D"))
    w1 = g0.select(
        *[
            F.expr(
                f"CAST(floor(-(g{k} / 1000000.0D / n_docs)"
                f" * 1000000.0D + 0.5D) AS BIGINT)"
            ).alias(f"w{k}")
            for k in range(LOGREG_FEATURES)
        ]
    )
    # step 2: real sigmoid at w1 (z folds per-feature micro products)
    z_terms = " + ".join(
        f"CAST(floor((w{k} / 1000000.0D) * x{k} * 1000000.0D + 0.5D)"
        f" AS BIGINT)"
        for k in range(LOGREG_FEATURES)
    )
    p = (
        "(floor((1.0D / (1.0D + exp(-(CAST(({z}) AS DOUBLE)"
        " / 1000000.0D)))) * 1000000.0D + 0.5D) / 1000000.0D)"
    ).format(z=z_terms)
    g1 = feats.crossJoin(F.broadcast(w1)).agg(*grad_cols(p))
    stacked_w = ", ".join(
        f"struct(CAST({k} AS BIGINT) AS feature, w{k} AS w_micros)"
        for k in range(LOGREG_FEATURES)
    )
    stacked_g = ", ".join(
        f"struct(CAST({k} AS BIGINT) AS feature, g{k} AS grad_micros)"
        for k in range(LOGREG_FEATURES)
    )
    wt = w1.selectExpr(f"inline(array({stacked_w}))")
    gt = g1.selectExpr(f"inline(array({stacked_g}))")
    return wt.join(gt, "feature").select(
        "feature", "w_micros", "grad_micros"
    )


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: per-document mean CONDITIONAL
    log-probability ``ln p(w2|w1)`` under the corpus's own bigram
    distribution — one rung up from :func:`unigram_logprob_scores` and
    the shape of the CCNet-style perplexity filter (a document whose
    word TRANSITIONS are corpus-atypical scores low even when every
    individual word is common — the signal that catches shuffled or
    templated text a unigram model cannot).

    Scale shape: bigrams expand IN-ROW from the staged token array
    (one explode, no self-join); the bigram and context tables are two
    hash aggregates; the score join is size-selected and deliberately
    unhinted exactly like the unigram op (web-scale bigram vocabulary
    degrades to a shuffle join, or truncates to top-K + OOV floor —
    the standard compromise). Determinism: p = cnt/ctx is an
    integer-ratio double, each ``ln p`` micro-quantizes to a LONG
    before the per-doc integer sum, one grid round at the end; ``ln``
    under the established libm-agreement precedent. MLE, no smoothing:
    a document's own bigrams always have corpus count >= 1."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    staged = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("ft"),
    ).filter(F.expr("size(ft) >= 2"))
    # r17 (guide §2.3 aggregate-before-shuffle): the bigram explode runs
    # ONCE into a per-doc bigram-frequency aggregate (cached — the old
    # plan re-derived the full bigram stream three times: corpus counts,
    # context counts, and the score join); corpus/context tables sum the
    # tf relation and the per-token lp sum becomes a tf-weighted integer
    # sum — bit-identical (lp quantizes per BIGRAM before weighting).
    # r17: bigram structs off arrays_zip(ft, ft[2:]) — no per-position
    # lambda (the shingles()/BPE rewrite, guide §1.2 step 2); the
    # padded tail (null second member) is the old sequence bound
    prs = (
        staged.select(
            "doc_id",
            "ft",
            F.expr("slice(ft, 2, greatest(size(ft) - 1, 0))").alias(
                "f2"
            ),
        )
        .select("doc_id", F.explode(F.arrays_zip("ft", "f2")).alias("p"))
        .filter(F.col("p.f2").isNotNull())
        .groupBy(
            "doc_id",
            F.col("p.ft").alias("w1"),
            F.col("p.f2").alias("w2"),
        )
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    big = prs.groupBy("w1", "w2").agg(F.sum("tf").alias("cnt"))
    ctx = prs.groupBy("w1").agg(F.sum("tf").alias("ctx"))
    lp = F.floor(
        F.log(F.expr("CAST(cnt AS DOUBLE) / ctx")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        prs.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .select("doc_id", "tf", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lp")).alias("lp_micros"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            grid_round(
                (F.col("lp_micros") / F.lit(1e6)).cast("double")
                / F.col("n_bigrams"),
                6,
            ).alias("avg_cond_logprob"),
        )
    )


def _bpe_corpus_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, arr) with empty tokens dropped — the array-native BPE
    corpus representation: the whole merge step then happens IN-ROW
    (no per-step shuffle of the token stream at all; only the pair
    COUNT aggregates). Spread at ARROW_PASS_BYTES, not ROW_WORK_BYTES:
    every loop pass (Arrow pair partials, apply checkpoint) pays a
    per-task floor times the width; see
    :data:`...registry.ARROW_PASS_BYTES` for the A/B numbers."""
    docs = spread(table(spark, sf_dir, "documents"), ARROW_PASS_BYTES)
    return docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("arr"),
    )


# Merge-application algebra (r17, kept as the canonical record; since
# r18 the fold is a literal `replace` CHAIN built in _bpe_apply from
# the collected kept pairs rather than an in-row aggregate over a
# broadcast array — same semantics, zero broadcast machinery):
# tokens come from split(text, ' ') so they can never CONTAIN a space;
# the array round-trips through a DOUBLE-space-joined string (each gap
# is two spaces; every match pattern ' l  r ' claims the inner half of
# each gap, so consecutive merges never fight over a shared delimiter)
# and each kept pair is one codegen'd `replace` scan. `replace`
# substitutes occurrences left-to-right non-overlapping and resumes
# AFTER the replacement — exactly the greedy fold's skip semantics;
# replacements can never create new matches because kept pairs are
# symbol-disjoint (the batched trainer's selection rule; the serial
# trainer collects one pair) and the merged token l_r differs from
# every kept symbol. Equivalence is pinned by the greedy-replay
# hypothesis fuzz in test_properties.py.


def _pair_partials_arrow(docs: DataFrame, col: str = "arr") -> DataFrame:
    """Arrow-vectorized adjacent-pair PARTIAL counts over a token-array
    column: emits (l, r, pair_count) per-batch partials; callers finish
    with ``groupBy(l, r).sum`` (r18, guide §4.2 — aggregate before the
    shuffle, heavy lifting in native code).

    Replaces the JVM ``explode(arrays_zip(arr, arr[2:]))`` + hash
    aggregate, which was the dominant cost of every BPE pass (~7-8
    executor-CPU-s per pair-count stage at sf0.1: per-pair struct
    allocation and two-key row hashing in the row interpreter). Here
    the ListArray's flat values buffer yields both pair sides as
    ZERO-COPY slices (guide §4.2's offsets observation), row
    boundaries mask out cross-document pairs, and the per-batch count
    is one C++ ``group_by`` — the shuffle then carries |vocab|^2-ish
    partials instead of every token. Counts are exact integers, so
    partial/merge split points cannot change any result. NULL/array
    irregularities fail loudly (the corpus arrays are non-null by
    construction)."""
    import numpy as np
    import pyarrow as pa

    def partials(batches):
        import pyarrow.compute as pc

        for batch in batches:
            arr = batch.column(0)
            if arr.null_count:
                raise ValueError("_pair_partials_arrow: NULL token array")
            offs = np.asarray(arr.offsets, dtype=np.int64)
            offs = offs - offs[0]
            flat = arr.flatten()
            m = len(flat)
            if m < 2:
                continue
            valid = np.ones(m - 1, dtype=bool)
            starts = offs[1:-1]
            starts = starts[(starts > 0) & (starts < m)]
            valid[starts - 1] = False
            mask = pa.array(valid)
            left = pc.filter(flat.slice(0, m - 1), mask)
            right = pc.filter(flat.slice(1, m - 1), mask)
            if len(left) == 0:
                continue
            t = (
                pa.table({"l": left, "r": right})
                .group_by(["l", "r"])
                .aggregate([("l", "count")])
            )
            t = pa.table(
                {
                    "l": t.column("l"),
                    "r": t.column("r"),
                    "pair_count": t.column("l_count").cast(pa.int64()),
                }
            )
            for out in t.combine_chunks().to_batches():
                yield out

    return docs.select(col).mapInArrow(
        partials, "l string, r string, pair_count long"
    )


def _bpe_pair_counts_from(docs: DataFrame) -> DataFrame:
    """(l, r, pair_count) over the array corpus — the step's ONE
    shuffle (of per-batch partials since r18; see
    :func:`_pair_partials_arrow`)."""
    return (
        _pair_partials_arrow(docs)
        .groupBy("l", "r")
        .agg(F.sum("pair_count").alias("pair_count"))
    )


def _bpe_apply(docs: DataFrame, kept_pairs: list) -> DataFrame:
    """Apply the collected kept-pair list in-row; returns the merged
    (doc_id, arr) corpus, checkpointed.

    r18 (VERDICT r17 item 5): ``kept_pairs`` is the COLLECTED top-k
    window — driver-scale by construction (``limit(k)`` in
    :func:`_bpe_merges`) — so each pair inlines as a literal codegen'd
    ``replace`` instead of the former collect_list aggregate +
    broadcast crossJoin + interpreted fold over a kept array; that
    removes two jobs (kept checkpoint, broadcast build) and one
    broadcast exchange per training round. Double-space delimiter
    algebra as documented above, greedy left-to-right `replace`
    semantics, fold order irrelevant because kept pairs are
    symbol-disjoint. An
    empty kept list round-trips the array through join/split — the
    identity on space-free tokens, exactly what the old empty
    collect_list fold did."""
    cur = F.concat(F.lit("  "), F.array_join("arr", "  "), F.lit("  "))
    for left, right in kept_pairs:
        cur = F.replace(
            cur,
            F.lit(f" {left}  {right} "),
            F.lit(f" {left}_{right} "),
        )
    arr = F.filter(F.split(cur, "  "), lambda t: t != F.lit(""))
    return docs.select("doc_id", arr.alias("arr")).localCheckpoint()


# PII scrub patterns — restricted to the RE2∩Java-identical subset
# (character classes, bounded repetition, \d = [0-9] and \b = ASCII word
# boundary in BOTH engines; no backreferences, no lookaround), so Spark
# and DuckDB match byte-for-byte. Scrub order: email first (its local
# part can contain digits/dots that the looser patterns would nibble),
# then phone, then IP.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}\b"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_canary_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION with canary-injection verification — the scrub
    stage every public LLM-data pipeline runs (C4 strips lines by
    blocklist; Dolma/RedPajama mask emails/phones/IPs with typed
    placeholder tokens), proven the way production scrubbers are
    proven: since the synthetic corpus contains no organic PII, each
    document gets DETERMINISTIC canaries injected first (an email
    derived from doc_id on every doc, a phone on doc_id % 3 == 0, an
    IP on doc_id % 5 == 0), the three-pattern redaction chain runs,
    and the op emits per-class match counts, the md5 of the redacted
    text (the strong cross-engine bit-check), and a ``clean`` boolean
    asserting NO residual pattern matches survive — the canary
    round-trip a scrubber deployment gates on.

    Scale shape: a pure scan-speed projection (regexp_extract_all +
    chained regexp_replace, whole-stage codegen, no shuffle, no UDF).
    Dialect discipline: patterns stay inside the RE2∩Java-identical
    subset (see module constants) — the one regex family both engines
    execute byte-for-byte."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    canaried = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com "),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("ph 555-010-1234 ")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("ip 10.0.0."),
                    (F.col("doc_id") % 250).cast("string"),
                    F.lit(" "),
                ),
            ).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )
    counted = canaried.select(
        "doc_id",
        "text",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all("text", F.lit(PII_IP), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return counted.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        F.md5(redacted).alias("redacted_md5"),
        (
            (
                F.size(
                    F.regexp_extract_all(
                        redacted, F.lit(PII_EMAIL), F.lit(0)
                    )
                )
                + F.size(
                    F.regexp_extract_all(
                        redacted, F.lit(PII_PHONE), F.lit(0)
                    )
                )
                + F.size(
                    F.regexp_extract_all(redacted, F.lit(PII_IP), F.lit(0))
                )
            )
            == 0
        ).alias("clean"),
    )
