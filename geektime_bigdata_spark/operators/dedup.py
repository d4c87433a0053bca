"""Deduplication suite for large-scale training-data pipelines.

Four dedup families over the ``documents`` table, all expressed with
native Spark expressions (zero Python in the hot path) and all fully
deterministic so a DuckDB oracle can verify them bit-for-bit:

- exact:       content fingerprint (md5) -> keep lowest doc_id per group.
- MinHash+LSH: shingle -> 12 md5-minhashes -> 4 bands x 3 rows ->
               band-bucket collect + array-combinations expansion for
               candidate pairs. The scale path: candidate generation is
               linear in corpus size + band collisions, never all-pairs.
- SimHash:     16-bit token-weighted fingerprint per doc; near-dup pairs
               collapse identical fingerprint VALUES first, then band the
               distinct values (pigeonhole-complete at hamming <= 3).
- n-gram Jaccard: exact shingle-set similarity via posting-list pair
               expansion — quadratic only within shared-shingle groups.
- graph:       connected components, PageRank, k-core, reachability and
               random walks over the near-dup graph. Every graph op reads
               one cached edge relation (:func:`_dup_edges`) and sizes it
               through one bounded gate (:func:`_dup_graph`): driver
               algorithms for small edge sets, distributed rounds above
               ``SMALL_GRAPH_EDGES``.

Determinism notes: every hash is md5 (identical across engines); minhash
uses the *string* md5 hex (lexicographic min is engine-independent);
SimHash bit weights come from the first 4 md5 hex chars.

Scale/plan notes (100 TB): the N minhash seeds and 16 simhash bits are
computed as N parallel aggregate EXPRESSIONS inside one groupBy — NOT a
seeds/bits cross join — so the shuffle carries one row per (doc, shingle),
never N x that. (The naive cross-join formulation benched 6x slower at
sf0.1 and its shuffle volume scales with N.) For skewed shingles
(stopword trigrams) the inverted-index expansion is bounded by dropping
top-frequency shingles before pair generation — implemented as
:func:`ngram_jaccard_pairs_dfcapped` (df-capped candidates + exact
verify; posting lists provably <= NGRAM_DF_CAP after the cap, recall
measured in its docstring). The uncapped tiers keep full recall on this
corpus, whose 31-word vocabulary keeps collision groups small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import (
    grid_round,
    jaccard,
    shingles,
    tokens,
    values_relation,
)
from geektime_bigdata_spark.registry import (
    ARROW_PASS_BYTES,
    ROW_WORK_BYTES,
    spread,
    table,
)
from geektime_bigdata_spark.operators.text import token_tf

N_HASHES = 12
BAND_ROWS = 3  # 4 bands x 3 rows
N_SIMHASH_BITS = 16
SMALL_GRAPH_EDGES = 100_000  # graph ops' driver fast-path bound (_dup_graph)
# Document-frequency cap for df-capped candidate generation
# (ngram_jaccard_pairs_dfcapped): shingles appearing in more than this
# many docs are excluded from the inverted index BEFORE pair expansion,
# bounding every posting list at NGRAM_DF_CAP rows (<= C(8,2) = 28
# pairs per shingle — O(1) per shingle, linear overall). Production
# value would be corpus-relative (~0.01-0.1% of |docs|); pinned
# absolute here so the cap demonstrably bites on the synthetic corpus.
# Measured recall vs the uncapped query at jaccard >= 0.1 (r15):
# sf0.001 28/28, sf0.01 25/25, sf0.1 254/260 (97.7%) with candidates
# 1,130,536 -> 189,567 (6.0x); cap=5 was rejected: 61x fewer
# candidates but 126/260 recall on this dense 31-word vocabulary.
NGRAM_DF_CAP = 8


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — one row per distinct 3-gram per document.

    Cached: every dedup query consumes this relation at least once and
    ngram_jaccard_pairs twice (per-doc sizes + postings), so without
    materialization each consumer re-runs the explode+array_distinct
    pipeline. The relation is |docs| x ~|tokens| short strings — the
    working set a shingle-based pipeline has to hold somewhere anyway;
    in production it is the persisted intermediate a dedup job writes
    once and reuses across stages. Spread at ROW_WORK_BYTES: the
    candidate self-joins read the cached relation's partitioning."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    return (
        docs.select("doc_id", tokens().alias("toks"))
        .select("doc_id", F.explode(shingles()).alias("shingle"))
        .cache()
    )


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shingle, df) — corpus document frequency per distinct 3-gram.

    Cached (r17, guide §2.4): five queries derive their shingle sets
    from this one aggregate (df-capped hot set, boilerplate threshold,
    novelty df=1, duplicate-span df>=2, prefix-filter global order) and
    each re-ran the same vocabulary-scale groupBy over the shingle
    cache. The relation is the corpus VOCABULARY (Heaps-law bounded) —
    exactly the persisted df table a curation stack keeps next to the
    shingle index; memory-and-disk at crawl scale."""
    return (
        _doc_shingles(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .cache()
    )


def _doc_shingle_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n) — distinct-shingle count per document.

    Cached (r17, guide §2.4): six dedup-family queries join this
    relation (two of them twice), and uncached each consumer re-ran the
    same groupBy over the shingle cache — one exchange plus ~0.3-0.8 s
    per computation at sf0.1. One row per document — the same scale
    class as the minhash signature table; memory-and-disk at crawl
    scale, the per-doc stat a dedup job persists anyway."""
    return (
        _doc_shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )


def _with_sizes(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """``pairs`` (keyed ``doc_a``, ``doc_b``) with each side's
    distinct-shingle count joined on as ``n_a`` and ``n_b``, the inputs
    of :func:`jaccard`. The joins carry no broadcast hint: the size
    relation is one row per document, so AQE broadcasts it while it is
    small and falls back to a shuffled join at corpus scale."""
    sizes = _doc_shingle_sizes(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    representative (lowest) doc_id and the duplicate count. At scale this
    is one hash-shuffle on a 32-byte key — the cheapest dedup there is."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with all N_HASHES minhash columns mh0..mhN-1,
    computed as N min-aggregates over a single (doc, shingle) shuffle.
    Cached: |docs| x 12 hex strings — the signature table an indexing
    job persists; signatures/lsh_pairs/the estimator all read it, and
    the estimator alone consumes it twice (pair generation + the
    component-agreement join)."""
    sh = _doc_shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(s), F.col("shingle")))
            ).alias(f"mh{s}")
            for s in range(N_HASHES)
        ]
    ).cache()


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, seed) MinHash values in long format: min md5 over the
    doc's shingles, seeded by prefixing the seed index. The wide
    aggregation is unpivoted with ``stack`` — no row multiplication ever
    crosses a shuffle."""
    wide = _minhash_wide(spark, sf_dir)
    stack_args = ", ".join(f"{s}, mh{s}" for s in range(N_HASHES))
    return wide.select(
        "doc_id",
        F.expr(f"stack({N_HASHES}, {stack_args}) AS (seed, mh)"),
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "mh")


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding: docs agreeing on all
    BAND_ROWS minhashes of any band become a candidate pair.

    Band signatures come straight off the wide minhash row (md5 of the
    band's concatenated minhashes). Pair generation is a (band, sig)
    equi-self-join over the CACHED wide relation — r17 (guide §1.2 step
    2): the earlier groupBy-collect_list + array-combinations expansion
    ran as an ObjectHashAggregate + interpreted lambda with no codegen
    (the pattern the df-capped jaccard tier measured at ~17 CPU-s);
    the self-join emits the identical unordered pairs inside
    WholeStageCodegen, and because the build relation is the cached
    signature table the pipeline is still computed once. Only collision
    buckets ever multiply (never the full cross product) — work is
    unchanged at C(|bucket|, 2) per bucket. A bucket whose size
    explodes (a degenerate signature) would be capped/salted at scale;
    here sizes are bounded by true duplicates. Output: (doc_a, doc_b),
    doc_a < doc_b."""
    wide = _minhash_wide(spark, sf_dir)
    n_bands = N_HASHES // BAND_ROWS
    band_sigs = [
        F.md5(
            F.concat(
                *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
            )
        ).alias(f"sig{b}")
        for b in range(n_bands)
    ]
    wide_sigs = wide.select("doc_id", *band_sigs)
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(n_bands))
    bands = wide_sigs.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_args}) AS (band, sig)")
    )
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        ba.join(bb, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: token hash = first 4 md5 hex chars;
    bit j of the fingerprint is 1 iff the tf-weighted sum of (+-1) votes
    from token-hash bit j is positive.

    All 16 bit-vote sums are parallel aggregate expressions over the
    shared (doc, word) relation :func:`~text.token_tf` — one shuffle
    keyed on doc_id, no bits cross join; the final fingerprint is a pure
    projection.

    Cached: one row per doc (two longs), the signature-table class.
    neardup_pair_features joins both pair sides against it. The plan's
    leaf is the token_tf memo, one checkpoint per session, so the
    cached plan matches across calls."""
    tf = token_tf(spark, sf_dir).withColumn(
        "h", F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("long")
    )
    votes = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf") * (2 * F.expr(f"shiftright(h, {j}) & 1") - 1)
            ).alias(f"s{j}")
            for j in range(N_SIMHASH_BITS)
        ]
    )
    bit_terms = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j}L ELSE 0L END"
        for j in range(N_SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(f"{bit_terms} AS simhash")).cache()


SIMHASH_HAMMING_MAX = 2
_N_SIMHASH_BANDS = 4  # 4 nibbles of the 16-bit fingerprint


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate summary: fingerprint-VALUE pairs within
    hamming distance SIMHASH_HAMMING_MAX, each with the number of doc
    pairs it represents — (fp_a, fp_b, hamming, n_pairs), fp_a <= fp_b
    (fp_a == fp_b is the hamming-0 case, n_pairs = C(group, 2)).

    Scale path, two levels:

    1. **Collapse identical fingerprints first.** Docs group by simhash
       VALUE (at most 2^16 distinct values, far fewer than docs on any
       near-dup-rich corpus), so all pair logic runs on values.
    2. **Band the distinct VALUES** into 4 nibbles; by pigeonhole any
       value pair within hamming distance 3 shares a band (property-
       tested), so the bucket-collect expansion over value buckets
       cannot miss a pair at threshold 2; ``bit_count(xor)`` then
       filters exactly.

    The value-level summary IS the output: expanding each surviving value
    pair to its doc-group cross product multiplies rows by |g_a| x |g_b|
    for zero information gain (every doc pair of a value pair shares its
    hamming distance). On this collision-heavy 31-word corpus that
    expansion was ~540k rows at sf0.1 — the engine's slowest output by
    far; a consumer that wants doc pairs joins the doc->simhash relation
    in (:func:`simhash_doc_pairs` keeps the expansion available)."""
    groups = (
        simhash_fingerprints(spark, sf_dir)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        # four consumers below (hamming-0 pairs, value bands, both sides
        # of the group-size join); the value-group table is <= 2^16 rows
        .cache()
    )
    same = groups.filter(F.col("n_docs") > 1).select(
        F.col("simhash").alias("fp_a"),
        F.col("simhash").alias("fp_b"),
        F.lit(0).cast("long").alias("hamming"),
        F.expr("n_docs * (n_docs - 1) div 2").alias("n_pairs"),
    )
    # value-level banding over DISTINCT fingerprints
    nibbles = ", ".join(
        f"{b}, shiftright(simhash, {4 * b}) & 15"
        for b in range(_N_SIMHASH_BANDS)
    )
    vbands = groups.select(
        "simhash",
        F.expr(f"stack({_N_SIMHASH_BANDS}, {nibbles}) AS (band, nib)"),
    )
    vbuckets = (
        vbands.groupBy("band", "nib")
        .agg(F.sort_array(F.collect_list("simhash")).alias("vs"))
        .filter(F.size("vs") > 1)
    )
    v_combos = (
        "flatten(transform(vs, (x, i) -> "
        "transform(slice(vs, i + 2, size(vs)), "
        "y -> struct(x AS fp_a, y AS fp_b))))"
    )
    vpairs = (
        vbuckets.select(F.explode(F.expr(v_combos)).alias("p"))
        .select("p.fp_a", "p.fp_b")
        .distinct()
        .withColumn("hamming", F.expr("bit_count(fp_a ^ fp_b)").cast("long"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )
    # no broadcast hint on g1/g2 (VERDICT r15): the value-group table is
    # bounded by 2^16 distinct fingerprints so AQE's size estimate will
    # broadcast it on its own at any scale where that is safe — a forced
    # hint only removes Spark's ability to fall back if the estimate is
    # wrong (e.g. a wider N_SIMHASH_BITS raising the distinct bound to
    # corpus cardinality).
    g1 = groups.select(F.col("simhash").alias("fp_a"), F.col("n_docs").alias("n_a"))
    g2 = groups.select(F.col("simhash").alias("fp_b"), F.col("n_docs").alias("n_b"))
    cross = (
        vpairs.join(g1, "fp_a")
        .join(g2, "fp_b")
        .select(
            "fp_a",
            "fp_b",
            "hamming",
            (F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        )
    )
    return same.unionByName(cross)


def simhash_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level expansion of :func:`simhash_neardup_pairs` for consumers
    that need concrete (doc_a, doc_b) rows: join each qualifying value
    pair back to the doc->simhash relation on both sides. Output size is
    sum over value pairs of |g_a| x |g_b| — use the value-level summary
    unless the expansion is genuinely required."""
    fp = simhash_fingerprints(spark, sf_dir)
    vp = simhash_neardup_pairs(spark, sf_dir)
    a = fp.select(F.col("simhash").alias("fp_a"), F.col("doc_id").alias("id_a"))
    b = fp.select(F.col("simhash").alias("fp_b"), F.col("doc_id").alias("id_b"))
    return (
        vp.join(a, "fp_a")
        .join(b, "fp_b")
        .filter(
            (F.col("fp_a") < F.col("fp_b"))
            | ((F.col("fp_a") == F.col("fp_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_a, doc_b)`` — the near-dup graph every graph op reads
    (:func:`ngram_jaccard_pairs` edges), ``.cache()``d. Each call builds
    the identical plan, so the CacheManager serves one materialization
    to the whole graph family in a session, whichever op runs first."""
    return ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()


def _dup_graph(
    spark: SparkSession, sf_dir: str, n_nodes: int = 0
) -> tuple[DataFrame, list | None]:
    """The one size gate of the graph ops' driver fast paths:
    ``(edges, rows)`` with the cached :func:`_dup_edges` relation and its
    collected rows when there are at most ``SMALL_GRAPH_EDGES`` edges and
    ``n_nodes`` is within the same bound, else ``(edges, None)``.

    One bounded ``limit(k + 1).collect()`` both sizes and fetches the
    edges, so the driver never holds more than k + 1 rows and no full
    count runs. Over the cached relation it is one job fewer than
    count-then-collect (sf0.001, 4 cores: dedup_clusters 7 -> 6 warm
    jobs, pagerank 9 -> 8, kcore 5 -> 4). The gate relies on the cache:
    on an uncached relation each incremental CollectLimit scan re-runs
    the pair join below it."""
    edges = _dup_edges(spark, sf_dir)
    if n_nodes > SMALL_GRAPH_EDGES:
        return edges, None
    rows = edges.limit(SMALL_GRAPH_EDGES + 1).collect()
    return edges, (rows if len(rows) <= SMALL_GRAPH_EDGES else None)


def dedup_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 25
) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the near-dup pair
    graph (edges = :func:`ngram_jaccard_pairs` >= 0.1), cluster id = min
    doc_id in the component. Docs with no near-dup form singleton
    clusters. This is the step that turns pairwise candidates into
    keep/drop decisions in a real dedup pipeline.

    Size-gated hybrid: when the edge set is small (the common case — true
    near-dup pairs are rare even in a 100 TB corpus), collect it and run
    driver-side union-find, then broadcast-join labels back — one pass,
    no iteration. Above the threshold, the distributed path runs
    ALTERNATING LARGE-STAR / SMALL-STAR rounds (the MapReduce CC scheme
    of Kiveris et al., "Connected Components in MapReduce and Beyond"):
    each round rewires every node toward its neighborhood minimum, which
    contracts long chains multiplicatively — convergence in O(log)
    rounds instead of the O(graph diameter) a one-hop min-label
    propagation needs (ADVICE r2: a 25-round budget silently bounds
    diameter; star doubling removes that bound for the same budget).
    Each phase is one groupBy-min plus one join, hash-partitioned on the
    node id — no driver state, no row explosion beyond the (shrinking)
    edge set. The DuckDB oracle computes the same components with a
    recursive CTE, making this iterative, non-SQL-expressible operator
    still differentially testable."""
    docs = table(spark, sf_dir, "documents")
    edges, edge_rows = _dup_graph(spark, sf_dir)
    if edge_rows is not None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in edge_rows:
            ra, rb = find(r["doc_a"]), find(r["doc_b"])
            if ra != rb:
                # union by min so the root IS the cluster id
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        labels_rows = [(d, find(d)) for d in parent]
        if not labels_rows:
            return docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
        # VALUES LocalRelation, not a pickled-RDD createDataFrame:
        # the broadcast build over the 32-slice RDD was one near-idle
        # 32-Python-task stage (~5.9 s task runtime at 0.12 CPU)
        lbl = values_relation(spark, labels_rows, "doc_id long, cc long")
        return (
            docs.select("doc_id")
            .join(F.broadcast(lbl), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("cc"), F.col("doc_id")).alias("cluster_id"),
            )
        )
    # canonical undirected edge set: a < b, no self-loops, distinct.
    # Each round's edge set is localCheckpoint'ed: the round reads E three
    # times (two bidir legs + the fixpoint diff), so without severing the
    # lineage the logical plan grows 3^k over k rounds and the DRIVER
    # OOMs on plan analysis long before any executor works hard. On a
    # cluster with a fault-tolerance requirement, swap for a reliable
    # checkpoint(dir) — same call shape, HDFS-backed blocks.
    E = (
        edges.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # LARGE-STAR: per node u, connect every strictly-LARGER neighbor
        # to m(u) = min(Γ(u) ∪ {u}). Preserves connectivity; hangs every
        # heavy node's big neighbors directly off the local minimum.
        bidir = E.selectExpr("a AS u", "b AS v").unionByName(
            E.selectExpr("b AS u", "a AS v")
        )
        m_all = (
            bidir.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            bidir.join(m_all, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        E_ls = (
            large.filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .distinct()
        )
        # SMALL-STAR: per node u, connect u and every strictly-SMALLER
        # neighbor to m(u) = min of those smaller neighbors. Directing
        # each canonical edge (a < b) as b -> a gives exactly the
        # smaller-neighbor sets.
        dirn = E_ls.selectExpr("b AS u", "a AS v")
        m_small = dirn.groupBy("u").agg(F.min("v").alias("m"))
        joined = dirn.join(m_small, "u")
        E_ss = (
            joined.select(F.col("u").alias("x"), F.col("m").alias("y"))
            .unionByName(
                joined.filter(F.col("v") != F.col("m")).select(
                    F.col("v").alias("x"), F.col("m").alias("y")
                )
            )
            .filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # fixpoint test: symmetric difference empty (both sides distinct,
        # so a lone (a,b) group means the edge exists on one side only)
        changed = (
            E.unionByName(E_ss)
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") == 1)
            .limit(1)
            .count()
        )
        E = E_ss
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not reach a fixpoint within "
            f"max_iter={max_iter} rounds; cluster_ids would be wrong"
        )
    # fixpoint graph is a forest of stars centered on component minima:
    # every node's label is its minimum neighbor (or itself if isolated)
    lbl = (
        E.selectExpr("a AS doc_id", "a AS cc")
        .unionByName(E.selectExpr("b AS doc_id", "a AS cc"))
        .groupBy("doc_id")
        .agg(F.min("cc").alias("cc"))
    )
    out = (
        docs.select("doc_id")
        .join(lbl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cc"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return out


def _shingle_pair_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_a, doc_b, c)`` — shared-shingle count for every doc pair
    with >= 1 common 3-gram, via a shingle-keyed equi-self-join on the
    cached (doc, shingle) relation + one count aggregate. r17 (guide
    §1.2 step 2): the earlier posting-list expansion (collect_list into
    per-shingle arrays + an interpreted transform/slice/flatten
    combinations lambda) ran as an ObjectHashAggregate + Generate with
    no codegen — the same pattern whose removal in the df-capped tier
    cut 17 of 18.7 CPU-s; the self-join emits the identical unordered
    pairs inside WholeStageCodegen. Work is unchanged — sum over
    shingles of C(|posting|, 2) — bounded at scale by dropping/salting
    top-frequency shingles (stopword trigrams), which is exactly what
    :func:`ngram_jaccard_pairs_dfcapped` does before this expansion.

    Cached: both exact-Jaccard consumers (``ngram_jaccard_pairs`` and
    ``minhash_jaccard_estimate``) read this relation and the pair
    expansion is the expensive stage of either.
    In production this is the co-occurrence table a dedup job persists.
    (A candidate-scoped recount via two broadcast joins was tried and
    measured SLOWER — it recomputes the LSH pair pipeline and streams
    the shingle relation twice instead of probing this cache once.)"""
    sh = _doc_shingles(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity ``(doc_a, doc_b, jaccard)``,
    doc_a < doc_b, for every doc pair sharing >= 1 shingle, thresholded
    at 0.1 — the verification stage a MinHash candidate pass would feed
    at scale, and the edge set of the near-dup graph (:func:`_dup_edges`).

    Scale shape: the shared-shingle counts come from the cached
    shingle-keyed self-join :func:`_shingle_pair_intersections`, whose
    work is sum over shingles of C(|posting|, 2) — bounded at scale by
    dropping top-frequency shingles first, as
    :func:`ngram_jaccard_pairs_dfcapped` does; the set sizes join on
    through :func:`_with_sizes`. Determinism: :func:`jaccard` is an
    integer-ratio double on the 1e-6 grid."""
    inter = _shingle_pair_intersections(spark, sf_dir)
    return (
        _with_sizes(spark, sf_dir, inter)
        .select("doc_a", "doc_b", jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= 0.1)
    )


def ngram_jaccard_pairs_dfcapped(
    spark: SparkSession, sf_dir: str, max_df: int = NGRAM_DF_CAP
) -> DataFrame:
    """DF-CAPPED candidate generation + exact verification — the
    stopword-shingle skew defense the module header used to promise
    only in prose (VERDICT r14 item 4), now an operator: shingles with
    document frequency > ``max_df`` are dropped from the inverted
    index BEFORE posting-list pair expansion, so every surviving
    posting list is <= max_df rows and per-shingle expansion work is
    <= C(max_df, 2) — constant per shingle, LINEAR in corpus size no
    matter how skewed the vocabulary (the uncapped expansion is
    sum(|posting|^2), quadratic in the hottest shingle's df). The hot
    set itself is tiny by construction (heavy hitters are few), so the
    exclusion is a broadcast anti-join — map-side, no shuffle added.

    Semantics are candidate-generation-then-verify, NOT jaccard-over-
    capped-sets: candidates are pairs sharing >= 1 RARE shingle, and
    each candidate's jaccard is computed exactly over the FULL shingle
    sets (the capped-universe variant was measured and rejected —
    17,109 "pairs" vs the uncapped 260 at sf0.1: tiny residual sets
    turn random rare-shingle overlaps into high scores). Recall cost
    is exactly the pairs whose ENTIRE overlap is hot shingles — the
    boilerplate-dominated pairs a curation pipeline wants gone anyway.
    Measured on the synthetic corpus (cap=8, threshold 0.1):
    sf0.001/0.01 recall 28/28 and 25/25 (100%), sf0.1 254/260 (97.7%)
    at 6.0x fewer candidates (189,567 vs 1,130,536); see NGRAM_DF_CAP
    for the cap=5 rejection. Output (doc_a, doc_b, jaccard) at
    jaccard >= 0.1, bit-equal to the uncapped oracle restricted to
    rare-shingle-sharing pairs."""
    sh = _doc_shingles(spark, sf_dir)
    hot = (
        _shingle_df(spark, sf_dir)
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    # r17 (guide §1.2 step 2 — per-task work): candidates via a codegen'd
    # equi-self-join on the rare relation instead of the old
    # collect_list + lambda-combinations expansion. The ObjectHashAggregate
    # (no codegen, per-group array objects) plus the interpreted
    # transform/slice/flatten pair lambda cost 17 of the query's 18.7
    # CPU-s at sf0.1; the self-join emits the same unordered pairs inside
    # WholeStageCodegen. Work is still df-cap-bounded: <= C(max_df, 2)
    # pairs per shingle, because BOTH sides are the capped relation.
    # ``rare`` is cached: both join sides consume it, and uncached the
    # whole hot-df aggregate subtree executed twice (SQL metrics showed
    # two identical 9.1 MiB exchanges). Candidate rows go to the verify
    # UN-deduplicated (see _jaccard_verify — output-level distinct).
    rare = sh.join(F.broadcast(hot), "shingle", "left_anti").cache()
    ra = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    rb = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (
        ra.join(rb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return _jaccard_verify(cand, sh, t=0.1)


def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-gram CONTAINMENT for doc pairs sharing >= 1 shingle:
    ``c/|A|`` and ``c/|B|`` next to the symmetric Jaccard. Containment is
    the dedup signal Jaccard misses: a document wholly embedded in a
    much larger one scores near 1.0 on containment but near 0 on
    Jaccard (|A∩B|/|A∪B| shrinks with the size gap) — exactly the
    quote/boilerplate-inclusion case a curation pipeline must catch.
    Thresholded at max-containment >= 0.4.

    Cost: reuses the cached shingle co-occurrence table and per-doc
    sizes — two unhinted equi-joins (AQE broadcasts the size table while
    it is small, shuffles it once it is corpus-scale), no new expansion.
    Contract edges are integer-ratio doubles on the 1e-6 grid."""
    inter = _shingle_pair_intersections(spark, sf_dir)
    cont_a = grid_round(F.col("c") / F.col("n_a"), 6)
    cont_b = grid_round(F.col("c") / F.col("n_b"), 6)
    return (
        _with_sizes(spark, sf_dir, inter)
        .select(
            "doc_a",
            "doc_b",
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
            jaccard().alias("jaccard"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b")) >= 0.4
        )
    )


def dedup_cluster_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The keep/drop HEAD of the dedup pipeline: one row per duplicate
    cluster with its PageRank-central member as the representative
    (``rep_doc_id``), the member count, and the representative's score —
    the "principled representative pick" the PageRank docstring promises,
    delivered as a query. Singleton clusters keep themselves.

    Composition: :func:`dedup_clusters` (connected components) joined to
    :func:`neardup_pagerank` on doc_id, then one per-cluster ranking
    window (max pagerank, doc_id tiebreak — both engines order the same
    grid doubles identically). Both inputs ride their own caches/fast
    paths; the join and window hash on cluster_id, whose groups are
    near-dup clusters — small by construction at any corpus scale."""
    clusters = dedup_clusters(spark, sf_dir)
    ranks = neardup_pagerank(spark, sf_dir)
    joined = clusters.join(ranks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pagerank").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        joined.withColumn(
            "n_members", F.count(F.lit(1)).over(wc).cast("long")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("pagerank").alias("rep_pagerank"),
            "n_members",
        )
    )


EVAL_SET_MOD = 97  # doc_id % EVAL_SET_MOD == 0 -> held-out benchmark doc


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag every training document sharing at
    least one 3-gram shingle with the held-out benchmark set (here:
    ``doc_id % 97 == 0`` stands in for an external eval corpus), with the
    shared-shingle count — the check every serious pretraining pipeline
    runs before shipping a corpus.

    Scale shape: the eval side reduces to its DISTINCT shingle set —
    benchmark suites are tiny next to the corpus, so it broadcasts and
    the flagging pass is a map-side semi-join at scan speed; only the
    per-doc count aggregate shuffles (keyed by doc_id, combiner-friendly).
    No corpus self-join anywhere."""
    sh = _doc_shingles(spark, sf_dir)
    eval_shingles = (
        sh.filter(F.col("doc_id") % EVAL_SET_MOD == 0)
        .select("shingle")
        .distinct()
    )
    return (
        sh.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


CONTAM_TOPK = 10
# Train-side document-frequency cap on the retrieval probe (VERDICT r16
# item 1, the ngram_jaccard_pairs_dfcapped pattern): shingles shared
# with the eval set but appearing in more than CONTAM_DF_CAP training
# documents are BOILERPLATE — they are dropped before the pair
# expansion, so per-shingle work is bounded at cap x df_eval(shingle)
# no matter how common the shingle is in the corpus (uncapped, one
# stopword trigram with df_train ~10^9 on a real crawl materializes
# df_train x df_eval rows before the aggregate — a stage flood whose
# contribution IDF scores near 0 anyway). Cap choice measured on the
# synthetic corpus: at sf0.1 the probe-survivor df distribution reads
# q50/q90/max = 9/14/22 and cap=16 drops 66 of 2,396 shared shingles
# (2.8%, 1,217 of 22,889 probe rows) — the cap BINDS at the
# driver-checked scale so the capped semantics themselves are
# oracle-verified, while every rare (discriminative) shingle survives;
# at sf0.001/0.01 (max df 4) it is non-binding. Like NGRAM_DF_CAP this
# is the per-deployment knob: raise it to admit more shared-context
# mass, at linearly-bounded cost.
CONTAM_DF_CAP = 16


def _contam_scored(
    spark: SparkSession,
    sf_dir: str,
    suites: tuple[int, ...],
    max_df: int | None,
) -> tuple[dict, DataFrame]:
    """The one scorer of the contamination family: ``(sizes, scored)``
    over the benchmark suites ``suites``. Suite ``m``'s eval set is
    ``doc_id % m == 0`` and its train side every other document; a
    NULL doc_id is on neither side.

    - ``sizes[m] = (n_eval, n_train)``, from one driver-row aggregate.
    - ``scored`` is ``(suite, eval_doc_id, doc_id, n_shared_shingles,
      score_micros)``: one row per (suite, eval item, train doc) that
      share a shingle surviving the df cap, scored as the LONG sum over
      those shingles of the BM25 idf
      ``ln((n_train - df + 0.5) / (df + 0.5) + 1)`` (Lucene variant,
      over TRAIN document frequency), grid-rounded per shingle to 1e-6
      and summed as micros — associative, so partitioning cannot move
      a score.

    Scale shape: suite membership is a per-row array filter on doc_id;
    the distinct (suite, shingle) eval relation broadcasts (bounded by
    the eval sets, not the corpus) and the one corpus-scale probe fans
    each matching train shingle out by at most |suites| rows. The probe
    output is repartitioned by (suite, shingle), an AQE-sized exchange
    the df aggregate reuses, and cached because the df aggregate and
    the scoring join both read it. Shingles with train df over
    ``max_df`` (boilerplate, see CONTAM_DF_CAP) drop out in the inner
    join with the capped idf relation, before the eval-doc fan-out, so
    per-shingle work stays within max_df x df_eval; ``max_df=None``
    keeps every shingle. n_train enters the idf as a literal map keyed
    on suite, so it adds no join."""
    docs = table(spark, sf_dir, "documents")
    row = docs.agg(
        *[
            F.count(F.when(F.col("doc_id") % m == 0, 1)).alias(f"ev{m}")
            for m in suites
        ],
        *[
            F.count(F.when(F.col("doc_id") % m != 0, 1)).alias(f"tr{m}")
            for m in suites
        ],
    ).collect()[0]
    sizes = {m: (row[f"ev{m}"], row[f"tr{m}"]) for m in suites}
    sh = _doc_shingles(spark, sf_dir)
    member = F.filter(
        F.array(*[F.lit(m).cast("long") for m in suites]),
        lambda s: F.col("doc_id") % s == 0,
    )
    ev = sh.select(
        F.explode(member).alias("suite"),
        F.col("doc_id").alias("eval_doc_id"),
        "shingle",
    )
    hits = (
        sh.join(
            F.broadcast(ev.select("suite", "shingle").distinct()), "shingle"
        )
        .filter(F.col("doc_id") % F.col("suite") != 0)
        .repartition("suite", "shingle")
        .cache()
    )
    df_ = hits.groupBy("suite", "shingle").agg(
        F.count(F.lit(1)).alias("df")  # (doc, shingle) rows are distinct
    )
    if max_df is not None:
        df_ = df_.filter(F.col("df") <= max_df)
    n_train = F.create_map(
        *[
            x
            for m in suites
            for x in (F.lit(m).cast("long"), F.lit(float(sizes[m][1])))
        ]
    )[F.col("suite")]
    idf = F.log(
        (n_train - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    rare = df_.select(
        "suite",
        "shingle",
        F.floor(grid_round(idf, 6) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("idf_micros"),
    )
    scored = (
        hits.join(F.broadcast(rare), ["suite", "shingle"])
        .join(F.broadcast(ev), ["suite", "shingle"])
        .groupBy("suite", "eval_doc_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.sum("idf_micros").cast("long").alias("score_micros"),
        )
    )
    return sizes, scored


def contamination_retrieval(
    spark: SparkSession,
    sf_dir: str,
    k: int = CONTAM_TOPK,
    max_df: int | None = CONTAM_DF_CAP,
) -> DataFrame:
    """IDF-weighted decontamination retrieval: for every EVAL item (the
    held-out set ``doc_id % 97 == 0``, as in
    :func:`benchmark_contamination`), the top-k training documents by
    the IDF-weighted shared-shingle score of :func:`_contam_scored`.
    Unlike the uniform shared-shingle count of the flag, one shared
    RARE shingle outweighs many boilerplate shingles, which is the
    ranking a decontamination review reads. Output per (eval item,
    train doc): the shared count, the score, and the rank.

    Scale shape: the scorer's; the top-k window partitions by eval
    item, so each partition holds only that item's candidate rows.
    ``max_df=None`` gives the uncapped scores.

    Determinism: ranking compares the LONG micro score with a doc_id
    tiebreak, and the emitted double is micros/1e6 — the exact_sum
    contract. The oracle writes every float op in the same order and
    mirrors the df cap as a WHERE on its df CTE."""
    _, scored = _contam_scored(spark, sf_dir, (EVAL_SET_MOD,), max_df)
    w = Window.partitionBy("eval_doc_id").orderBy(
        F.col("score_micros").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "eval_doc_id",
            "doc_id",
            "n_shared_shingles",
            (F.col("score_micros") / F.lit(1000000.0)).alias("score"),
            "rk",
        )
    )


# The synthetic benchmark SUITES of the multi-suite decontamination
# report: each modulus stands in for one external eval set's doc-id
# hash class (97 is EVAL_SET_MOD, the suite the single-suite operators
# use). A doc can belong to several suites (doc_id % lcm == 0) and is
# excluded from the TRAIN side only of the suites it belongs to —
# exactly how independent external benchmarks overlap a crawl.
CONTAM_SUITES = (97, 89, 83)
# "Strong" contamination floor for the per-suite rate: top-1 retrieval
# score >= 5.0 (5e6 micros) — roughly one genuinely rare shared
# shingle (idf of a df=1 shingle is ln(n_train/1.5 + 1) ~ 5.8 at
# n_train=500 and grows with the corpus), so boilerplate-only matches
# (post-cap idf sums of a few low-idf shingles) stay below it.
CONTAM_STRONG_MICROS = 5_000_000


def contamination_suite_report(
    spark: SparkSession,
    sf_dir: str,
    suites: tuple[int, ...] = CONTAM_SUITES,
    max_df: int = CONTAM_DF_CAP,
) -> DataFrame:
    """Multi-suite decontamination REPORT: one row per benchmark suite
    with the suite's eval/train sizes, how many eval items retrieved any
    training match, how many matched STRONGLY (top-1 score >= 5.0, see
    CONTAM_STRONG_MICROS), the summed top-1 score mass, and the two
    contamination rates. Every suite is scored by one
    :func:`_contam_scored` probe, not one rerun per suite.

    Scale shape: the scorer's, then a top-1 window per (suite, eval
    item) and a per-suite aggregate; the report is |suites| rows, a
    driver-scale artifact built on a VALUES frame of the scorer's
    sizes.

    Determinism: the top-1 pick uses the (score desc, doc_id) total
    order; rates are integer-ratio doubles on the 1e-6 grid, DEFINED
    0.0 for an empty eval set. The oracle mirrors every step including
    the cap and the strong floor."""
    sizes, scored = _contam_scored(spark, sf_dir, suites, max_df)
    suites_df = values_relation(
        spark,
        [(m, e, t) for m, (e, t) in sizes.items()],
        "suite long, n_eval_docs long, n_train_docs long",
    )
    top1 = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("suite", "eval_doc_id").orderBy(
                F.col("score_micros").desc(), F.col("doc_id")
            )
        ),
    ).filter(F.col("rk") == 1)
    per_suite = top1.groupBy("suite").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_eval"),
        F.sum(
            F.when(
                F.col("score_micros") >= CONTAM_STRONG_MICROS, F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_strong_eval"),
        F.sum("score_micros").cast("long").alias("sum_top1_micros"),
    )
    rate = lambda c: F.when(
        F.col("n_eval_docs") == 0, F.lit(0.0)
    ).otherwise(grid_round(F.col(c) / F.col("n_eval_docs"), 6))
    return (
        suites_df.join(F.broadcast(per_suite), "suite", "left")
        .select(
            "suite",
            "n_eval_docs",
            "n_train_docs",
            F.coalesce(F.col("n_matched_eval"), F.lit(0))
            .cast("long")
            .alias("n_matched_eval"),
            F.coalesce(F.col("n_strong_eval"), F.lit(0))
            .cast("long")
            .alias("n_strong_eval"),
            F.coalesce(F.col("sum_top1_micros"), F.lit(0))
            .cast("long")
            .alias("sum_top1_micros"),
        )
        .withColumn("matched_rate", rate("n_matched_eval"))
        .withColumn("strong_rate", rate("n_strong_eval"))
    )


def decontaminate_corpus(
    spark: SparkSession,
    sf_dir: str,
    max_df: int | None = CONTAM_DF_CAP,
    strong_micros: int = CONTAM_STRONG_MICROS,
) -> DataFrame:
    """The SCRUB step closing the contamination family (flag ->
    retrieve -> report -> scrub): one row per TRAINING document with
    how many eval items it matched, its strongest IDF score, and the
    keep flag — drop iff the top score reaches the strong floor
    (``CONTAM_STRONG_MICROS``, the contamination_suite_report
    criterion seen from the train side). This is the relation a
    curation pipeline actually joins against its corpus before
    publishing.

    Scale shape: rolls the :func:`_contam_scored` relation up by
    ``doc_id`` (shuffle keyed on the train doc, map-side partials),
    then a LEFT join from the train doc list, unhinted on both sides:
    the per-doc aggregate is corpus-cardinality, so AQE broadcasts it
    at test scale and shuffles it at crawl scale. Unmatched docs keep
    with score 0.0. All-LONG surface plus the micros/1e6 double."""
    _, scored = _contam_scored(spark, sf_dir, (EVAL_SET_MOD,), max_df)
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_matches"),
        F.max("score_micros").cast("long").alias("top_micros"),
    )
    train_docs = (
        spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
        .filter(F.col("doc_id") % EVAL_SET_MOD != 0)
        .select("doc_id")
    )
    top = F.coalesce(F.col("top_micros"), F.lit(0)).cast("long")
    return train_docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_eval_matches"), F.lit(0))
        .cast("long")
        .alias("n_eval_matches"),
        (top / F.lit(1000000.0)).alias("top_score"),
        F.when(top >= strong_micros, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("keep_flag"),
    )


def bow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: documents whose token MULTISETS are equal
    collapse to one group — catches word-order shuffles that exact
    hashing misses (the cheapest member of the near-dup ladder before
    MinHash). Fingerprint = md5 of the sorted token join; like
    :func:`exact_dedup` this is one hash-shuffle on a 32-byte key at any
    scale, and sorting happens inside the row (array_sort never leaves
    the projection). ASCII tokens sort identically under Spark's and
    DuckDB's lexicographic collation, so the fingerprints are
    engine-identical."""
    docs = spread(table(spark, sf_dir, "documents"), ROW_WORK_BYTES)
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " ")))
    )
    return (
        docs.select(fp.alias("bow_fingerprint"), "doc_id")
        .groupBy("bow_fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash pipeline: for every LSH
    candidate pair, the MinHash Jaccard ESTIMATE (fraction of the 12
    signature components that agree — the unbiased estimator LSH is
    built on) next to the EXACT 3-gram Jaccard, plus the absolute
    error. This is the measurement a pipeline runs before trusting a
    banding configuration at scale: it answers "how wrong is the sketch
    on my corpus" with data, not theory.

    Cost shape: the candidate set is the (already linear) LSH bucket
    expansion; the estimate is a 12-term projection over the wide
    signature join; the exact side reuses the posting-list intersection
    counts. No all-pairs anything. Contract edges: n_eq/12 and
    c/(n_a+n_b-c) are integer-ratio doubles (identical IEEE division in
    both engines) snapped to the 1e-6 grid, and the error is the
    difference of two on-grid doubles."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    wide = _minhash_wide(spark, sf_dir)
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(N_HASHES)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(N_HASHES)],
    )
    n_eq = F.expr(
        " + ".join(
            f"CASE WHEN a{s} = b{s} THEN 1L ELSE 0L END"
            for s in range(N_HASHES)
        )
    ).alias("n_eq")
    est_pairs = pairs.join(wa, "doc_a").join(wb, "doc_b").select(
        "doc_a", "doc_b", n_eq
    )
    inter = _shingle_pair_intersections(spark, sf_dir)
    joined = _with_sizes(
        spark, sf_dir, est_pairs.join(inter, ["doc_a", "doc_b"], "left")
    ).withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    est = grid_round(F.col("n_eq") / F.lit(N_HASHES), 6)
    exact = jaccard()
    return joined.select(
        "doc_a",
        "doc_b",
        "n_eq",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        grid_round(F.abs(est - exact), 6).alias("abs_err"),
    )


PAGERANK_ITERS = 5


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate graph (edges =
    :func:`ngram_jaccard_pairs`, undirected), PAGERANK_ITERS fixed
    power iterations with damping 0.85 — ranks the most central
    documents of each duplicate cluster (a principled representative
    pick for the keep/drop step, vs min-doc_id).

    The iterative-algorithm pattern on Spark beyond connected
    components: each iteration is one join (ranks onto out-edges) + one
    aggregate (incoming mass per node) — the standard message-passing
    topology, O(iters) stages, edge relation cached across iterations.
    Dangling-node mass is dropped (the common simplified variant) and
    isolated docs settle at (1-d)/N.

    Determinism across engines for an ITERATED float recurrence:
    per-edge contributions quantize to 1e-9-unit LONGs before the
    (order-dependent) sum, every scalar op is written in the same order
    in the oracle's unrolled CTE chain, and each iteration's rank snaps
    to the 1e-9 grid — so five chained recurrences stay bit-identical.
    The oracle unrolls the same five iterations as chained CTEs (SQL
    has no loops; the driver check stays exact)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()  # tiny scalar, same style as tfidf/bm25
    # size-gated driver fast path (same hybrid as dedup_clusters): a
    # near-dup graph is tiny even on a huge corpus, and 5 distributed
    # iterations cost ~10 shuffle stages of pure scheduling overhead.
    # The Python loop below runs THE SAME IEEE double ops in the same
    # order (Python floats are doubles; quantization mirrors floor(x *
    # 1e9 + 0.5)), so the result is bit-identical to the distributed
    # path and the oracle — asserted by the fast==distributed pytest.
    # The gate binds on n_docs too: the fast path collects every doc id.
    edges, edge_rows = _dup_graph(spark, sf_dir, n_docs)
    if edge_rows is not None:
        import math
        from collections import defaultdict

        def g9(x: float) -> float:
            return math.floor(x * 1e9 + 0.5) / 1e9

        bidir_e: list[tuple[int, int]] = []
        for row in edge_rows:
            a, b = row["doc_a"], row["doc_b"]
            bidir_e.append((a, b))
            bidir_e.append((b, a))
        degree: dict[int, int] = defaultdict(int)
        for s, _ in bidir_e:
            degree[s] += 1
        ids = [r0["doc_id"] for r0 in docs.collect()]
        pr = {d: g9(1.0 / n_docs) for d in ids}
        for _ in range(PAGERANK_ITERS):
            m: dict[int, int] = defaultdict(int)
            for s, d in bidir_e:
                m[d] += math.floor((pr[s] / degree[s]) * 1e9 + 0.5)
            pr = {
                d: g9(0.15 / n_docs + 0.85 * (m.get(d, 0) / 1e9))
                for d in ids
            }
        return values_relation(
            spark, [(d, pr[d]) for d in ids], "doc_id long, pagerank double"
        )

    bidir = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    bd = bidir.join(deg, "src").cache()

    r = docs.select(
        "doc_id", grid_round(F.lit(1.0) / F.lit(n_docs), 9).alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = bd.join(r, bd["src"] == r["doc_id"]).select(
            "dst",
            F.floor((F.col("pr") / F.col("deg")) * F.lit(1e9) + F.lit(0.5))
            .cast("long")
            .alias("mi"),
        )
        inc = contrib.groupBy("dst").agg(F.sum("mi").alias("m"))
        r = docs.join(inc, docs["doc_id"] == inc["dst"], "left").select(
            "doc_id",
            grid_round(
                F.lit(0.15) / F.lit(n_docs)
                + F.lit(0.85)
                * (F.coalesce(F.col("m"), F.lit(0).cast("long")) / F.lit(1e9)),
                9,
            ).alias("pr"),
        )
    return r.select("doc_id", F.col("pr").alias("pagerank"))


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate 3-grams: shingles whose DOCUMENT
    frequency reaches ``max(5, ceil(1% of corpus))`` — the
    RefinedWeb/C4-style signal for navigation chrome, license headers,
    and cookie banners that repeat across unrelated pages. The
    threshold is RELATIVE to corpus size (with an absolute floor), so
    the definition is stable from sf0.001 to 100 TB.

    Scale shape: one count aggregate over the cached (doc, shingle)
    relation — the same shuffle every other shingle consumer pays —
    plus a broadcast one-row threshold join; no expansion, no
    all-pairs anything. All-integer contract surface."""
    sh = _doc_shingles(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    # ceil(n/100) in pure integer arithmetic: (n + 99) DIV 100 — both
    # engines floor-divide integers, no double in the threshold.
    thr = docs.agg(
        F.greatest(F.lit(5).cast("long"), F.expr("(count(1) + 99) DIV 100"))
        .alias("thr")
    )
    return (
        _shingle_df(spark, sf_dir)
        .crossJoin(F.broadcast(thr))
        .filter(F.col("df") >= F.col("thr"))
        .select("shingle", "df")
    )


def boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate coverage: the fraction of a document's
    distinct 3-gram shingles that are corpus-level boilerplate
    (:func:`boilerplate_ngrams`). A high-coverage document is mostly
    repeated chrome — the removal criterion that catches templated spam
    exact/near dedup both miss (each copy differs, but every copy is
    built from the same shared n-grams).

    Scale shape: a semi join of the cached shingle relation against the
    boilerplate set (selective by construction — AQE broadcasts it when
    small, hash-shuffles when not) + the per-doc size aggregate the
    containment query already shares. Documents shorter than 3 tokens
    have no shingles and are excluded, mirrored in the oracle. The only
    float is an integer-ratio double on the 1e-6 grid."""
    sh = _doc_shingles(spark, sf_dir)
    boiler = boilerplate_ngrams(spark, sf_dir).select("shingle")
    sizes = _doc_shingle_sizes(spark, sf_dir).withColumnRenamed(
        "n", "n_shingles"
    )
    hits = (
        sh.join(boiler, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0).cast("long")).alias(
                "n_boiler"
            ),
            grid_round(
                F.coalesce(F.col("n_boiler"), F.lit(0).cast("long"))
                / F.col("n_shingles"),
                6,
            ).alias("coverage"),
        )
    )


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the LSH near-dup graph — the
    graph-density diagnostic next to connected components (breadth) and
    PageRank (centrality): a document in many triangles sits in a
    tightly-knit duplication clique (template spam), not a loose chain.

    The standard distributed triangle formulation: with every edge
    oriented low->high, a triangle {a<b<c} is counted exactly once as
    e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two equi-joins over the (tiny, banded)
    candidate edge relation, no direction explosion. Per-node counts
    credit all three corners via one explode; docs in no triangle emit
    0 through the left join. All-integer surface."""
    edges = minhash_lsh_pairs(spark, sf_dir).cache()
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(per_node, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
            "n_triangles"
        ),
    )


INCOMING_DOC_SOURCE = "src0"


def incoming_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest document dedup — the production shape of
    MinHash dedup: an INCOMING batch (source = src0) is probed against
    the EXISTING corpus's band index, never corpus x corpus. Per
    incoming doc: exact duplicate of the corpus (fingerprint join),
    near-duplicate candidate (shared LSH band signature), or novel —
    the admission verdict an ingest pipeline writes per batch.

    Scale shape: the corpus band index is the already-cached signature
    relation every other minhash consumer shares; the incoming side is
    |batch| rows; both probes are equi-joins keyed on (band, sig) /
    fingerprint, so cost is linear in the batch + collisions. A real
    deployment persists the band index and THIS query is the only work
    per batch. All-integer flags."""
    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("source") == INCOMING_DOC_SOURCE)
    corpus = docs.filter(F.col("source") != INCOMING_DOC_SOURCE)

    exact_hit = (
        incoming.select("doc_id", F.md5("text").alias("fp"))
        .join(
            corpus.select(F.md5("text").alias("fp")).distinct(),
            "fp",
            "left_semi",
        )
        .select("doc_id")
        .withColumn("is_exact_dup", F.lit(1))
    )
    # band signatures from the shared cached wide-signature relation
    wide = _minhash_wide(spark, sf_dir)
    sig_cols = [
        F.md5(
            F.concat(*[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)])
        ).alias(f"band{b}")
        for b in range(N_HASHES // BAND_ROWS)
    ]
    bands = wide.select("doc_id", *sig_cols).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("sig")
                    )
                    for b in range(N_HASHES // BAND_ROWS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")
    inc_ids = incoming.select("doc_id")
    near_hit = (
        bands.join(inc_ids, "doc_id", "left_semi")
        .join(
            bands.join(inc_ids, "doc_id", "left_anti")
            .select("band", "sig")
            .distinct(),
            ["band", "sig"],
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_near_dup", F.lit(1))
    )
    return (
        incoming.select("doc_id")
        .join(exact_hit, "doc_id", "left")
        .join(near_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_exact_dup", F.lit(0)).cast("long").alias(
                "is_exact_dup"
            ),
            F.coalesce("is_near_dup", F.lit(0)).cast("long").alias(
                "is_near_dup"
            ),
        )
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source
    pair, how many LSH candidate near-dup pairs connect them — the
    "which crawls copied from each other" report a corpus-mixing
    decision needs before weighting sources independently. Same-source
    pairs are counted too (the diagonal = intra-source redundancy).

    Scale shape: the candidate-pair relation (banded LSH — collision
    buckets only, never all-pairs) joins the (doc_id, source) projection
    twice — one row per DOCUMENT, so the joins carry no broadcast hint
    (VERDICT r15: a forced hint on a corpus-cardinality relation is an
    executor-OOM at 10^9+ docs; AQE broadcasts while small, shuffles at
    scale). The matrix aggregate is at most |sources|^2 rows —
    driver-scale regardless of corpus size. least/greatest canonicalizes
    the pair so (a,b) and (b,a) land in one cell. All-integer surface."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(
            src.withColumnRenamed("source", "src_a"),
            pairs.doc_a == src.doc_id,
        )
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "src_b"),
            F.col("doc_b") == F.col("doc_id"),
        )
        .drop("doc_id")
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def neardup_pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature table for LSH candidate pairs — the input a learned
    dedup-verification model (or a hand-tuned keep/drop rule) consumes:
    per candidate pair, exact 3-gram Jaccard, max containment, SimHash
    Hamming distance, and shingle-length ratio. One row per candidate,
    combining the three signals the suite computes separately; at scale
    this is the feature-join a curation stack persists next to the pair
    list.

    Scale shape: every input is an already-shared relation (banded LSH
    pairs, the cached shingle-intersection counts, shingle sizes, and
    simhash fingerprints); the joins key on doc ids and carry no
    broadcast hint, since sizes and fingerprints are one row per
    document. Pairs that share a
    band but no shingle (possible only under hash collision) surface
    with c = 0 rather than dropping. Ratios are integer-ratio doubles
    on the 1e-6 grid; Hamming is pure integer (``bit_count(xor)``)."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    inter = _shingle_pair_intersections(spark, sf_dir)
    fps = simhash_fingerprints(spark, sf_dir)
    fa = fps.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    fb = fps.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")
    )
    feat = (
        _with_sizes(
            spark,
            sf_dir,
            pairs.join(inter, ["doc_a", "doc_b"], "left").withColumn(
                "c", F.coalesce(F.col("c"), F.lit(0).cast("long"))
            ),
        )
        .join(fa, "doc_a")
        .join(fb, "doc_b")
    )
    containment = F.col("c") / F.least("n_a", "n_b")
    return feat.select(
        "doc_a",
        "doc_b",
        F.col("c").alias("n_common"),
        "n_a",
        "n_b",
        jaccard().alias("jaccard"),
        grid_round(containment, 6).alias("containment"),
        F.expr("bit_count(sh_a ^ sh_b)").cast("long").alias(
            "simhash_hamming"
        ),
        grid_round(
            F.least("n_a", "n_b") / F.greatest("n_a", "n_b"), 6
        ).alias("len_ratio"),
    )


KCORE_K = 2
KCORE_MAX_ROUNDS = 8


def neardup_kcore(
    spark: SparkSession,
    sf_dir: str,
    k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """k-core of the near-dup graph (edges = 3-gram Jaccard >= 0.1,
    the same relation :func:`dedup_clusters` labels): iteratively peel
    nodes of degree < k until a fixpoint; what remains is the densest
    duplication structure — template families and boilerplate clusters
    rather than one-off pair matches, which is what a curation analyst
    inspects first. Output: surviving docs with their WITHIN-CORE
    degree. Completes the graph-diagnostic family next to connected
    components, PageRank, and triangle counts.

    Size-gated hybrid like the CC operator: a small edge set (the
    common case) collects once and peels driver-side; above the gate,
    each distributed round is one degree aggregate + one semi-join
    filter, hash-partitioned on the node id, with ``localCheckpoint``
    per round (an iterated plan referencing the previous frame
    re-expands 3^rounds at analysis time otherwise) and a bounded
    scalar count per round as the convergence check. Peeling halves
    the frontier geometrically on sparse dup graphs; ``max_rounds``
    raises rather than silently returning a non-fixpoint (the oracle
    unrolls exactly ``max_rounds`` peels, idempotent once converged)."""
    edges, edge_rows = _dup_graph(spark, sf_dir)
    if edge_rows is not None:
        # driver peel: tiny graph, one pass of classic iterative removal
        adj: dict[int, set[int]] = {}
        for r in edge_rows:
            adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
            adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
        # Bounded peel mirroring the distributed path AND the oracle:
        # the DuckDB oracle unrolls exactly ``max_rounds`` peels, so an
        # unbounded driver fixpoint here would silently out-converge it
        # on a graph needing more rounds (e.g. a ~17-doc near-dup
        # chain) and report a spurious mismatch.  Converge-or-raise,
        # identical contract to the distributed loop below.
        for _ in range(max_rounds):
            below = [n for n, nb in adj.items() if len(nb) < k]
            if not below:
                break
            for node in below:
                if node not in adj:  # removed as a neighbor this pass
                    continue
                for other in adj.pop(node):
                    if other in adj:
                        adj[other].discard(node)
        else:
            if any(len(nb) < k for nb in adj.values()):
                raise RuntimeError(
                    f"k-core did not converge in {max_rounds} rounds"
                )
        rows = sorted((n, len(nb)) for n, nb in adj.items())
        if not rows:
            return spark.createDataFrame(
                [], "doc_id long, core_degree long"
            )
        return values_relation(spark, rows, "doc_id long, core_degree long")

    # distributed peel
    und = edges.unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint()
    n_und = und.count()
    for _ in range(max_rounds):
        deg = und.groupBy("doc_a").agg(F.count(F.lit(1)).alias("d"))
        alive = deg.filter(F.col("d") >= k).select("doc_a")
        nxt = (
            und.join(alive, "doc_a", "left_semi")
            .join(
                alive.select(F.col("doc_a").alias("doc_b")),
                "doc_b",
                "left_semi",
            )
            .localCheckpoint()
        )
        # bounded: one cached scalar per round; nxt is a subset of und,
        # so equal counts mean the peel removed nothing
        n_nxt = nxt.count()
        und = nxt
        if n_nxt == n_und:
            break
        n_und = n_nxt
    else:
        raise RuntimeError(
            f"k-core did not converge in {max_rounds} rounds"
        )
    return (
        und.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


RCTE_MAX_DEPTH = 10
RCTE_PATH_BUDGET = 50_000_000  # abort the recursion past ~50M worst-case paths


def neardup_reach_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dup-closure via Spark 4.1's RECURSIVE CTE: per doc,
    the distinct near-dups reachable through CHAINS of candidate pairs
    (A~B, B~C => C in A's closure even when A~C itself missed the
    Jaccard bar) and the longest such chain — the transitive-quality
    signal the pairwise relations can't see, expressed DECLARATIVELY
    instead of the driver-looped star rounds of :func:`dedup_clusters`.

    Spark's recursive CTEs are UNION ALL-only (UNION-dedup recursion is
    not yet supported), so termination comes from structure: the walk
    runs over the low->high ORIENTED pair DAG (doc_a < doc_b by
    construction — acyclic), with a ``depth < 10`` belt-and-braces
    bound mirrored in the oracle; distinct-counting happens once in the
    outer aggregate. On a sparse candidate graph path counts stay near
    edge counts; a dense clique would explode combinatorially, which
    is why the CLUSTER operators remain the production path — this op
    is the declarative cross-check and the §2.6 surface for the
    recursion feature itself. DuckDB runs the identical statement."""
    # Dense-component pre-gate (converge-or-raise, like the k-core and
    # star loops): the UNION ALL recursion enumerates PATHS, and on a
    # dense near-dup clique the path count under the depth bound is
    # combinatorial.  Before materializing a single path, count them
    # with the node-indexed DP cnt_{d+1}(v) = sum over edges (u,v) of
    # cnt_d(u) — the same joins the recursion performs but on <= |nodes|
    # rows per round instead of one row per path, so the gate is
    # strictly cheaper than the query it protects and never
    # false-positives on a sparse graph the recursion could handle.
    #
    # When the edge set passes the graph size gate, the whole DP runs
    # DRIVER-side over the collected edges (exact integer recurrence,
    # identical raise semantics). Otherwise each DP round is a LAZY chain
    # over the cached edges: round d's plan is d tiny joins replayed
    # from cache, linear growth with no 3^k blowup. (An unrolled
    # all-levels union was reverted: AQE ran every replayed shuffle of
    # every branch as its own job, 105 jobs.)
    edges, rows = _dup_graph(spark, sf_dir)
    small = rows is not None
    total_paths = 0
    if small:
        from collections import defaultdict

        adj: dict = defaultdict(list)
        cnt_d: dict = defaultdict(int)
        for r in rows:
            adj[r["doc_a"]].append(r["doc_b"])
            cnt_d[r["doc_b"]] += 1
        for _ in range(RCTE_MAX_DEPTH):
            round_paths = sum(cnt_d.values())
            total_paths += round_paths
            if total_paths > RCTE_PATH_BUDGET:
                raise RuntimeError(
                    f"neardup_reach_rcte: dense candidate graph — "
                    f">{RCTE_PATH_BUDGET:.0e} chains under depth "
                    f"{RCTE_MAX_DEPTH}; use dedup_clusters for the "
                    "transitive closure on graphs this dense"
                )
            if round_paths == 0:
                break
            nxt: dict = defaultdict(int)
            for node, c in cnt_d.items():
                for v in adj.get(node, ()):
                    nxt[v] += c
            cnt_d = nxt
    else:
        cnt = edges.groupBy(F.col("doc_b").alias("node")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        for _ in range(RCTE_MAX_DEPTH):  # path lengths 1..MAX_DEPTH
            round_paths = (cnt.agg(F.sum("cnt")).collect()[0][0]) or 0
            total_paths += round_paths
            if total_paths > RCTE_PATH_BUDGET:
                raise RuntimeError(
                    f"neardup_reach_rcte: dense candidate graph — "
                    f">{RCTE_PATH_BUDGET:.0e} chains under depth "
                    f"{RCTE_MAX_DEPTH}; use dedup_clusters for the "
                    "transitive closure on graphs this dense"
                )
            if round_paths == 0:
                break
            cnt = (
                cnt.join(edges, cnt["node"] == edges["doc_a"])
                .groupBy(F.col("doc_b").alias("node"))
                .agg(F.sum("cnt").alias("cnt"))
            )
    # Size-adaptive layout for the recursion (guide §2.2): a small edge
    # set runs the UnionLoop on ONE checkpointed partition (each
    # iteration is otherwise 32 near-empty tasks of pure scheduling
    # overhead, and the 1-task localCheckpoint costs one job); a big
    # one keeps the cached distribution.
    edges_rec = edges.coalesce(1).localCheckpoint() if small else edges
    # r18 STEP-BY-2 recursion (VERDICT item 7 — halve the UnionLoop's
    # per-iteration scheduling floor): seed with path lengths 1 and 2,
    # then extend by the DISTINCT 2-hop relation. The generated
    # (src, dst, depth) TRIPLE SET is unchanged — the pair DAG is
    # strictly increasing (doc_a < doc_b), so any concatenation of
    # real paths is a real path, and any true path of length d has
    # exactly one decomposition into a parity seed (1 or 2 edges) plus
    # consecutive 2-edge blocks, each of which is a 2-hop pair; walk
    # row MULTIPLICITIES differ (distinct 2-hop pairs collapse
    # parallel midpoints) but the outer aggregate reads only
    # count(DISTINCT dst) and max(depth), which are multiplicity-free.
    # Iterations: ceil((MAX_DEPTH-2)/2)+1 UnionLoop rounds instead of
    # MAX_DEPTH.
    e2 = (
        edges_rec.alias("x")
        .join(
            edges_rec.alias("y"),
            F.col("x.doc_b") == F.col("y.doc_a"),
        )
        .select(
            F.col("x.doc_a").alias("doc_a"),
            F.col("y.doc_b").alias("doc_b"),
        )
        .distinct()
    )
    edges2_rec = (
        e2.coalesce(1).localCheckpoint() if small else e2.localCheckpoint()
    )
    seed = edges_rec.select(
        "doc_a", "doc_b", F.lit(1).alias("depth")
    ).unionAll(
        edges2_rec.select("doc_a", "doc_b", F.lit(2).alias("depth"))
    )
    # DataFrame arguments, not named temp views: a fixed view name is
    # session-wide, so concurrent calls would read each other's edges
    return spark.sql(
        """
        WITH RECURSIVE walk(src, dst, depth) AS (
            SELECT doc_a, doc_b, depth FROM {seed}
            UNION ALL
            SELECT w.src, e.doc_b, w.depth + 2
            FROM walk w JOIN {edges2} e ON w.dst = e.doc_a
            WHERE w.depth < {max_depth}
        )
        SELECT src AS doc_id,
               CAST(count(DISTINCT dst) AS BIGINT) AS n_reachable,
               CAST(max(depth) AS BIGINT) AS max_chain
        FROM walk GROUP BY src
        """,
        seed=seed,
        edges2=edges2_rec,
        max_depth=RCTE_MAX_DEPTH - 1,
    )


PREFIX_JACCARD_T = 0.5  # similarity threshold; prefix shrinks as t grows


def _jaccard_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, n, pos, shingle)`` — each document's PPJoin prefix
    tokens under the consistent global order (corpus frequency asc,
    shingle asc), prefix length ``|X| - ceil(t*|X|) + 1``, with each
    token's 1-based position in the doc's full sorted order (the
    positional-filter input — see :func:`_positional_prune`). Shared
    candidate stage of both exact-recall similarity-join tiers; the
    per-doc frequency sort happens INSIDE the row (sort_array over
    structs), no global rank relation.

    Cached: BOTH tiers read this relation twice (once per join side),
    so without materialization the freq-agg + join + in-row sort
    pipeline runs per side; the cache (CacheManager plan-dedup, pure
    plan) also shares it between the flat and banded tiers in one
    session — the persisted prefix index a production similarity job
    writes once. Released by ``session.release_caches``."""
    sh = _doc_shingles(spark, sf_dir)
    freq = _shingle_df(spark, sf_dir)
    ranked = sh.join(freq, "shingle").select(
        "doc_id", "shingle", "df"
    )
    per_doc = ranked.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("df", "shingle"))
        ).alias("ordered"),
        F.count(F.lit(1)).alias("n"),
    )
    k = (
        F.col("n")
        - F.ceil(F.col("n") * F.lit(PREFIX_JACCARD_T)).cast("long")
        + F.lit(1)
    )
    return (
        per_doc.withColumn("k", k)
        .select(
            "doc_id",
            "n",
            F.posexplode(
                F.expr("slice(ordered, 1, CAST(k AS INT))")
            ).alias("pos0", "p"),
        )
        .select(
            "doc_id",
            "n",
            (F.col("pos0") + F.lit(1)).alias("pos"),
            F.col("p.shingle").alias("shingle"),
        )
        .cache()
    )


def _positional_prune(n_a, n_b, pa, pb):
    """PPJoin POSITIONAL filter as a per-expansion-row predicate
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08 §3.2): J(A,B) >= t forces the overlap
    O >= alpha = ceil(t/(1+t) * (|A|+|B|)), and for the FIRST token
    the pair shares, O <= 1 + min(|A|-pa, |B|-pb) — nothing before it
    is shared (a shared earlier token would sit inside both prefixes
    under the one consistent global order and be a matched row
    itself). The bound is monotone decreasing in (pa, pb) and the
    first shared token minimizes BOTH positions at once (same global
    order on both sides), so "any matched row passes" is equivalent
    to "the first-match row passes" — the filter applies per row,
    BEFORE the pair-level distinct, with exact recall.

    The alpha compare runs in pure integer arithmetic (a float ceil
    that lands a hair above an exact integer would over-prune a
    boundary pair): with t = p/q exactly (as_integer_ratio of the
    binary float), bound >= ceil(m/(p+q)) for integer bound and
    m = (n_a+n_b)*p is equivalent to the cross-multiplied
    (p+q)*bound >= m — no division, no rounding.

    Measured at sf0.1 (synthetic dense-vocab corpus): flat-tier
    candidate pairs 309,803 -> 124,979 with the 256-pair output
    unchanged; verify cost tracks candidate volume ~linearly."""
    p, q = PREFIX_JACCARD_T.as_integer_ratio()
    bound = F.lit(1) + F.least(n_a - pa, n_b - pb)
    return bound * F.lit(p + q) >= (n_a + n_b) * F.lit(p)


def _jaccard_verify(
    cands: DataFrame, sh: DataFrame, t: float = PREFIX_JACCARD_T
) -> DataFrame:
    """Candidate-scoped exact Jaccard verification shared by the
    similarity-join tiers (prefix-filter flat/banded at
    PREFIX_JACCARD_T, the df-capped tier at its own lower threshold):
    ``cands`` is a (doc_a, doc_b) pair relation, duplicates allowed;
    output is the distinct (doc_a, doc_b, jaccard) at >= t.

    Scale shape: each doc's distinct-shingle set is collected once
    (the same bytes as the shingle relation) and cached, since both
    join sides of every verify and all three tiers read it; the pair
    relation joins the two doc arrays and
    ``size(array_intersect(...))`` counts the overlap per row, so the
    shuffles carry |sh| + |cands| rows, never |cands| x |doc|. Set
    sizes come from the same arrays. Joins stay unhinted: the
    doc-array relation is corpus-cardinality. Determinism: shingle rows
    are distinct per doc, so the counts are exact and :func:`jaccard`
    is an integer-ratio double on the 1e-6 grid."""
    sets = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shs")
    ).cache()
    inter = (
        cands.select("doc_a", "doc_b")
        .join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
            F.size(F.array_intersect("shs_a", "shs_b")).alias("c"),
        )
    )
    return (
        inter.select("doc_a", "doc_b", jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= t)
        # The pair-level dedup happens HERE, on the thresholded output
        # (hundreds of rows), not on the candidate relation (hundreds of
        # thousands): callers feed the RAW posting/prefix expansion —
        # measured duplicate rate 3-5% at sf0.1 — so the verify runs at
        # full scan parallelism instead of on the 1-partition AQE
        # coalesce the candidate-side distinct produced (its 1.8 MiB
        # output dragged the whole join+intersect chain into one task).
        # A duplicated candidate row verifies to the identical output
        # row, so this distinct yields the same relation.
        .distinct()
    )


def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-recall set-similarity join via PREFIX FILTERING (the
    AllPairs/PPJoin candidate principle): under one consistent global
    token order (corpus frequency asc, shingle asc — rare first), two
    shingle sets with Jaccard >= t MUST share a token within each
    side's first ``|X| - ceil(t*|X|) + 1`` tokens, so candidates come
    from joining PREFIX posting lists only. Unlike MinHash/LSH banding
    (probabilistic recall), this misses NOTHING at the threshold —
    the verifier of choice when a dedup decision must be exact; the
    cost tradeoff is that prefix length (and so candidate volume)
    grows as t drops. t = 0.5: half-overlap near-dups, prefix ~|X|/2.

    Scale shape: frequencies are one aggregate; the per-doc frequency
    sort happens INSIDE the row (sort_array over (count, shingle)
    structs — no global rank relation, no unpartitioned window);
    candidates are prefix-posting expansions (collision-bounded like
    the LSH path) pruned per expansion row by the PPJoin POSITIONAL
    filter (:func:`_positional_prune` — measured 2.5x candidate
    reduction at sf0.1, exact recall); verification counts
    intersections CANDIDATE-SCOPED (each candidate pair joins its own
    shingle lists), never the all-co-occurring-pairs relation.

    Measured honesty (bench sf0.1): on THIS synthetic corpus (31-word
    vocabulary, heavy shingle sharing) prefix postings stay long —
    even "rare" shingles appear in many docs — so before the
    positional filter the brute-force sibling was ~5x faster; with it
    (warm 4.1s -> 1.5s, candidates 310k -> 125k for 256 true pairs)
    the gap is roughly closed. The regime this operator exists for is
    still a large, skewed vocabulary with sparse true pairs (the
    web-scale case) plus the exactness guarantee.

    Output: (doc_a, doc_b, jaccard)
    at jaccard >= t, doc_a < doc_b — bit-equal to the brute-force
    posting-expansion oracle thresholded at t."""
    sh = _doc_shingles(spark, sf_dir)
    prefixes = _jaccard_prefixes(spark, sf_dir)
    a = prefixes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        F.col("pos").alias("pa"),
        "shingle",
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.col("pos").alias("pb"),
        "shingle",
    )
    cands = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # PPJoin length filter: J(A,B) >= t forces
        # t*|A| <= |B| <= |A|/t, so wildly different sizes can never
        # qualify — dropped BEFORE the distinct/verify, shrinking the
        # candidate set with zero recall loss (output is oracle-pinned)
        .filter(
            (F.col("n_b") >= F.col("n_a") * F.lit(PREFIX_JACCARD_T))
            & (F.col("n_b") <= F.col("n_a") / F.lit(PREFIX_JACCARD_T))
            & (F.col("n_a") >= F.col("n_b") * F.lit(PREFIX_JACCARD_T))
        )
        # PPJoin positional filter (see _positional_prune): prunes the
        # expansion per row, before the pair-level distinct — measured
        # 2.5x candidate reduction at sf0.1, zero recall loss
        .filter(
            _positional_prune(
                F.col("n_a"), F.col("n_b"), F.col("pa"), F.col("pb")
            )
        )
        .select("doc_a", "doc_b")
    )
    return _jaccard_verify(cands, sh)


def prefix_filter_jaccard_pairs_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LENGTH-BANDED tier of the exact-recall similarity join — the
    second verifier tier VERDICT r4 item 8 prescribes: same prefix
    postings, but the PPJoin length constraint moves INTO the equi-join
    key instead of post-filtering the posting expansion. Docs get an
    EXACT power-of-2 size band ``length(bin(n)) - 1`` (= floor(log2 n)
    with no float log involved); since J(A,B) >= t with t >= 0.5 forces
    n_a <= n_b <= n_a/t <= 2*n_a for the smaller side A, the bigger
    side's band is provably band(A) or band(A)+1. The smaller side
    probes exactly those two (shingle, band) keys, so a long posting
    list splits across bands and only length-feasible fragments ever
    multiply — the long-postings penalty the flat tier's docstring owns
    on dense-vocab corpora is cut at candidate GENERATION, with zero
    recall loss (the residual filter + verifier are unchanged and the
    output is bit-equal to the flat tier, shared oracle).

    Symmetry: each unordered pair is generated once, from the
    (n, doc_id)-lexicographically smaller side; ids are re-normalized
    to doc_a < doc_b before the shared candidate-scoped verify."""
    sh = _doc_shingles(spark, sf_dir)
    prefixes = _jaccard_prefixes(spark, sf_dir).withColumn(
        "band", F.expr("length(bin(n)) - 1").cast("int")
    )
    idx = prefixes.select(
        F.col("doc_id").alias("doc_i"),
        F.col("n").alias("n_i"),
        F.col("pos").alias("pi"),
        "shingle",
        F.col("band").alias("jband"),
    )
    probe = prefixes.select(
        F.col("doc_id").alias("doc_p"),
        F.col("n").alias("n_p"),
        F.col("pos").alias("pp"),
        "shingle",
        F.explode(
            F.array(F.col("band"), F.col("band") + F.lit(1))
        ).alias("jband"),
    )
    cands = (
        probe.join(idx, ["shingle", "jband"])
        # generate each unordered pair ONCE from the smaller side, and
        # keep the exact length window (t*n_p <= n_i <= n_p/t; the
        # lower bound is implied by n_i >= n_p but stated for parity
        # with the flat tier — Catalyst folds the redundant compare)
        .filter(
            (F.col("n_p") < F.col("n_i"))
            | (
                (F.col("n_p") == F.col("n_i"))
                & (F.col("doc_p") < F.col("doc_i"))
            )
        )
        .filter(
            (F.col("n_i") >= F.col("n_p") * F.lit(PREFIX_JACCARD_T))
            & (F.col("n_i") <= F.col("n_p") / F.lit(PREFIX_JACCARD_T))
        )
        # PPJoin positional filter — same per-row prune as the flat
        # tier (the bound is symmetric in the two sides, so which side
        # generated the pair doesn't matter; see _positional_prune)
        .filter(
            _positional_prune(
                F.col("n_p"), F.col("n_i"), F.col("pp"), F.col("pi")
            )
        )
        .select(
            F.least("doc_p", "doc_i").alias("doc_a"),
            F.greatest("doc_p", "doc_i").alias("doc_b"),
        )
    )
    return _jaccard_verify(cands, sh)


WALK_STEPS = 3
WALKS_PER_NODE = 2


def neardup_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the near-dup graph — the
    node-sequence sampler graph-embedding training data comes from
    (DeepWalk-style), made REPRODUCIBLE: at each step the walk picks
    ``neighbors[md5(walk_id:step:node) mod degree]`` from the node's
    SORTED neighbor list, so every engine and every cluster layout
    draws the identical "random" successor (the rand()-free discipline
    of the sampling suite applied to graphs). WALKS_PER_NODE walks of
    WALK_STEPS hops start at every node with at least one edge; walks
    that reach any node keep extending (the graph is symmetric, so
    degree >= 1 everywhere reachable). Output: one row per walk with
    the visited path and its endpoint.

    Scale shape: the adjacency (node -> sorted neighbor array) builds
    with one groupBy; each hop is ONE broadcast-free equi-join of the
    walk frontier against the adjacency, keyed on the current node —
    at 100 TB the frontier shuffles with the walks, the standard
    iterative-join sampler. The hash pick is md5 hex -> integer mod
    degree — identical arithmetic in the unrolled-CTE oracle."""
    edges = _dup_edges(spark, sf_dir)
    und = edges.unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    adj = und.groupBy(F.col("doc_a").alias("node")).agg(
        F.sort_array(F.collect_set("doc_b")).alias("nbrs")
    )
    starts = adj.select("node").crossJoin(
        spark.range(WALKS_PER_NODE).select(
            F.col("id").cast("long").alias("walk")
        )
    )
    frontier = starts.select(
        "node",
        "walk",
        F.col("node").alias("cur"),
        F.array(F.col("node")).alias("path"),
    )
    for step in range(1, WALK_STEPS + 1):
        picked = (
            frontier.join(
                adj.select(
                    F.col("node").alias("cur"), "nbrs"
                ),
                "cur",
            )
            .withColumn(
                "pick",
                F.expr(
                    f"nbrs[CAST(conv(substr(md5(concat_ws(':', walk, "
                    f"CAST({step} AS STRING), cur)), 1, 8), 16, 10) AS BIGINT)"
                    " % size(nbrs)]"
                ),
            )
            .select(
                "node",
                "walk",
                F.col("pick").alias("cur"),
                F.concat(F.col("path"), F.array(F.col("pick"))).alias(
                    "path"
                ),
            )
        )
        frontier = picked
    return frontier.select(
        F.col("node").alias("start_node"),
        "walk",
        F.concat_ws(">", F.transform("path", lambda x: x.cast("string")))
        .alias("path"),
        F.col("cur").alias("end_node"),
    )


def walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the deterministic walks — the
    (center, context) co-occurrence table a graph-embedding trainer
    (DeepWalk/node2vec) consumes: every adjacent pair along each walk
    path, BOTH directions (window = 1), aggregated to counts. The walk
    sampler's reproducibility carries through: identical pairs on any
    engine or cluster layout.

    Scale shape: pair extraction is an array expression over the walk
    paths (no join — paths already hold the sequence), one explode, one
    aggregate keyed on the pair. Output is bounded by edges x walks,
    not nodes^2."""
    walks = neardup_random_walks(spark, sf_dir)
    nodes = F.split(F.col("path"), ">")
    pairs = F.expr(
        "flatten(transform(slice(nodes, 1, size(nodes) - 1), (x, i) -> "
        "array(struct(CAST(x AS BIGINT) AS center,"
        "             CAST(nodes[i + 1] AS BIGINT) AS context),"
        "      struct(CAST(nodes[i + 1] AS BIGINT) AS center,"
        "             CAST(x AS BIGINT) AS context))))"
    )
    return (
        walks.select(nodes.alias("nodes"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.center").alias("center"),
                 F.col("p.context").alias("context"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

ED_BLOCK_PREFIX = 16  # exact-match blocking key (chars)
ED_HEAD = 64  # compared head length (chars)
ED_MAX_DIST = 24  # edit-distance acceptance threshold
ED_MAX_BLOCK = 64  # skip blocks larger than this (hub guard)


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage near-dup pairs by EDIT DISTANCE — the character-
    level family member next to the token-set (Jaccard/MinHash), bit
    (SimHash), and substring (winnowing) detectors: two documents whose
    64-char heads are within ``ED_MAX_DIST`` Levenshtein operations
    pair up, the right tool for small in-place corruptions (typos, OCR
    noise, template field substitutions) that token-set measures round
    away and substring fingerprints break on.

    Scale shape — classic blocking: candidates must agree EXACTLY on
    the first ``ED_BLOCK_PREFIX`` characters (one hash shuffle on the
    block key), blocks larger than ``ED_MAX_BLOCK`` are dropped whole
    (boilerplate openings — the hub guard every candidate generator in
    this module applies), and only then does the O(head^2) DP verifier
    run, on block-bounded candidate pairs rather than |docs|^2.
    Blocking on a prefix means an edit INSIDE the prefix escapes this
    detector — the standard single-key blocking tradeoff; production
    recall stacks a second pass keyed on a suffix or sorted-
    neighborhood key. ``levenshtein`` is the same unit-cost DP integer
    in Spark and DuckDB, so the surface is exact (no float contract
    needed at all). Output: (doc_a, doc_b, edit_dist), doc_a < doc_b."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, ED_BLOCK_PREFIX).alias("blk"),
        F.substring("text", 1, ED_HEAD).alias("head"),
    )
    ok_blocks = (
        docs.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= ED_MAX_BLOCK))
        .select("blk")
    )
    blocked = docs.join(ok_blocks, "blk")
    a = blocked.select(
        "blk", F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a")
    )
    b = blocked.select(
        "blk", F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b")
    )
    # threshold form of the DP (r17): banded O(threshold x len), -1
    # for pairs beyond ED_MAX_DIST — the >= 0 filter keeps exactly the
    # rows the unbounded form kept, with identical distances (exact
    # within the threshold by definition)
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("head_a", "head_b", ED_MAX_DIST)
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(
            (F.col("edit_dist") >= 0)
            & (F.col("edit_dist") <= ED_MAX_DIST)
        )
    )

SNM_WINDOW = 8  # sorted-neighborhood comparison window
SNM_BLOCK_CHARS = 2  # sort-key prefix that scopes each window partition


def edit_distance_pairs_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD pass of the edit-distance linkage — the
    second blocking key that recovers what :func:`edit_distance_pairs`'
    prefix blocking structurally misses (an edit INSIDE the first 16
    characters moves a record out of its block): records sort by the
    REVERSED 64-char head (suffix-anchored, so a prefix edit barely
    moves the sort position) and every record is compared only to its
    ``SNM_WINDOW`` successors in that order — the classic SNM recipe,
    with the window partitioned by a short sort-key prefix so the sort
    and the pairing both distribute (a window at a block boundary
    truncates; the standard blocked-SNM recall tradeoff, symmetric to
    pass one's). Candidates are <= W per record — linear by
    construction, no block-size cap needed. Production recall stacks
    both passes; each is registered separately so the driver checks
    them independently. Output: (doc_a, doc_b, edit_dist), doc_a <
    doc_b, threshold shared with pass one."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, ED_HEAD).alias("head"),
        F.reverse(F.substring("text", 1, ED_HEAD)).alias("skey"),
    )
    # W lead() columns over the block window, NOT a rn-range self-join:
    # an equi-join on blk evaluates the range predicate as a post-
    # filter, silently going O(block^2) on big blocks (measured: a 4x
    # corpus went from sub-second to minutes). Leads are exactly one
    # window pass with W successors per row — linear by construction.
    w = Window.partitionBy("blk").orderBy("skey", "doc_id")
    succ = F.array(
        *[
            F.struct(
                F.lead("doc_id", i).over(w).alias("d"),
                F.lead("head", i).over(w).alias("h"),
            )
            for i in range(1, SNM_WINDOW + 1)
        ]
    )
    # Measured revert (guide §1.1 record): an explicit-N keyed
    # repartition on blk before the window — meant to stop AQE
    # coalescing the sub-MB block exchange to one partition (the sort
    # + lead + explode stage runs serially, 0.74 s on 1 task) —
    # REGRESSED the op 1.3 -> 2.65 s wall / 3.0 -> 6.7 CPU-s: the
    # 32-way window machinery costs more than the serial sort saves at
    # this block-exchange size. The serial window stage stays; at
    # corpus scale its exchange is large and AQE sizes it up on its
    # own.
    r = docs.select(
        "doc_id",
        "head",
        "skey",
        F.substring("skey", 1, SNM_BLOCK_CHARS).alias("blk"),
    ).select("doc_id", "head", succ.alias("succ"))
    # r17 (guide §2.5/§2.6): AQE coalesces the tiny block exchange to
    # ONE partition, and the levenshtein DP — the op's entire CPU —
    # pipelines into that single task (stage profile: 1.24 s CPU on 1
    # task). A round-robin respread between the window and the verify
    # costs one sub-MB shuffle and runs the DP across cores; it is
    # per-row work, so it takes the ROW_WORK_BYTES width. The DP itself is
    # the THRESHOLD form — banded O(threshold x len) instead of
    # O(len^2), returning -1 for pairs beyond ED_MAX_DIST — so the
    # >=0 filter keeps exactly the rows the unbounded form kept, with
    # identical distances (exact within the threshold by definition).
    pairs = spread(
        r.select("doc_id", "head", F.explode("succ").alias("s")).filter(
            F.col("s.d").isNotNull()
        ),
        ROW_WORK_BYTES,
    )
    dist = F.levenshtein("head", F.col("s.h"), ED_MAX_DIST).cast("long")
    return (
        pairs.select(
            F.least("doc_id", "s.d").alias("doc_a"),
            F.greatest("doc_id", "s.d").alias("doc_b"),
            dist.alias("edit_dist"),
        )
        .filter(
            (F.col("edit_dist") >= 0)
            & (F.col("edit_dist") <= ED_MAX_DIST)
        )
    )


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ORIGINALITY: the fraction of a document's distinct
    3-gram shingles that appear in NO other document (corpus document
    frequency exactly 1) — the mirror image of
    :func:`boilerplate_coverage` and the positive selection signal a
    diversity-seeking curation pass ranks by (a corpus of high-novelty
    documents maximizes unique n-gram mass per training token, where
    dedup only removes the worst offenders).

    Scale shape: the cached shingle relation, one df aggregate, a semi
    join against the df=1 set, and the per-doc size aggregate shared
    with the coverage query — all linear, all hash-partitioned on the
    shingle/doc key. Docs under 3 tokens have no shingles and are
    excluded (mirrored in the oracle); the only float is an
    integer-ratio double on the 1e-6 grid."""
    sh = _doc_shingles(spark, sf_dir)
    unique = (
        _shingle_df(spark, sf_dir)
        .filter(F.col("df") == 1)
        .select("shingle")
    )
    sizes = _doc_shingle_sizes(spark, sf_dir).withColumnRenamed(
        "n", "n_shingles"
    )
    hits = (
        sh.join(unique, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
            "n_novel"
        ),
        grid_round(
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
            / F.col("n_shingles"),
            6,
        ).alias("novelty_frac"),
    )


def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTIGUOUS duplicated-span statistics per document — the
    exact-substring dedup signal of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), whose remedy is to
    CUT the duplicated span rather than drop the whole document. The
    set-coverage siblings (boilerplate_coverage, ngram_novelty_scores)
    measure HOW MUCH of a doc's shingle set is shared; this one
    measures whether the sharing is CONTIGUOUS — a 50-token verbatim
    quote and 50 scattered common trigrams have identical coverage but
    completely different span profiles, and only the former is an
    excisable substring.

    Semantics: a POSITION p in a document is duplicated when the
    3-gram starting there appears in at least one OTHER document
    (cross-doc document frequency >= 2 — within-doc repetition is
    doc_repetition_scores' job). Output, one row per document having
    at least one duplicated position: total duplicated positions, the
    number of maximal runs (spans), and the longest span in TOKENS
    (run length + 2, the tokens its shingles cover). All-integer
    output — nothing to hash-flake.

    Scale shape: the positional shingle relation is a pure projection
    (posexplode of an in-row transform, one row per token); df comes
    off the cached distinct shingle relation; the duplicated-position
    filter is one equi-join on shingle (left to AQE — at corpus scale
    the duplicated-shingle side is NOT broadcastable, unlike the
    df-capped hot set which is small by construction); runs are the
    classic islands trick (pos - row_number() is constant within a
    run) on a window PARTITIONED BY doc_id — no unpartitioned window
    anywhere."""
    # ARROW_PASS_BYTES spread (r18): this head's own A/B read 12.7 ->
    # 2.2 CPU-s / 1.28 -> 0.87 s at sf0.1 vs a 32-way spread
    docs = spread(table(spark, sf_dir, "documents"), ARROW_PASS_BYTES).select(
        "doc_id", tokens().alias("toks")
    )
    # positional shingles off arrays_zip of offset slices (r17, guide
    # §1.2 step 2 — the shingles()/BPE pair-stream rewrite): the
    # concat_ws runs codegen'd per exploded row instead of inside an
    # interpreted per-position lambda; measured 1.32 -> 0.71 CPU-s at
    # sf0.1, rows verified identical. Zip entry i = tokens i..i+2, so
    # pos0 aligns exactly as before; the padded tail (t3 NULL) is the
    # old sequence bound.
    pos_sh = (
        docs.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "toks",
            F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))").alias(
                "t2"
            ),
            F.expr("slice(toks, 3, greatest(size(toks) - 2, 0))").alias(
                "t3"
            ),
        )
        .select(
            "doc_id",
            F.posexplode(F.arrays_zip("toks", "t2", "t3")).alias(
                "pos0", "z"
            ),
        )
        .filter(F.col("z.t3").isNotNull())
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.concat_ws(" ", "z.toks", "z.t2", "z.t3").alias("shingle"),
        )
    )
    shared = (
        _shingle_df(spark, sf_dir)
        .filter(F.col("df") >= 2)
        .select("shingle")
    )
    dup_pos = pos_sh.join(shared, "shingle", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    ).groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("run_len").cast("long").alias("dup_positions"),
            F.count(F.lit(1)).alias("n_spans"),
            (F.max("run_len") + F.lit(2)).cast("long").alias(
                "longest_span_tokens"
            ),
        )
    )


def neardup_detector_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-DETECTOR overlap matrix over the five doc-pair near-dup
    families (MinHash-LSH banding, n-gram Jaccard, winnowing
    substring fingerprints, prefix-blocked edit distance, and its
    sorted-neighborhood pass): for every ordered family pair, how many
    candidate pairs they share — the one-page meta-analysis a curation
    owner reads to pick detectors (a family whose pairs are a subset
    of another's adds cost, not recall; the diagonal is each family's
    own pair count). This is the capstone over the detector matrix the
    round built: token-set, substring, and character-level families
    measured against each other on the same corpus.

    Scale shape: each family's pair relation is the (already
    collision/block/window-bounded) output of its own operator —
    orders of magnitude smaller than the corpus — and the matrix is
    one self-join on the normalized (doc_a, doc_b) key over their
    tagged union. Output: (family_a, family_b, n_common), 25 rows."""
    from geektime_bigdata_spark.operators import textstats as _ts

    fams = {
        "edit": edit_distance_pairs(spark, sf_dir),
        "edit_snm": edit_distance_pairs_snm(spark, sf_dir),
        "jaccard": ngram_jaccard_pairs(spark, sf_dir),
        "lsh": minhash_lsh_pairs(spark, sf_dir),
        "winnow": _ts.winnow_neardup_pairs(spark, sf_dir),
    }
    u = None
    for name, df in sorted(fams.items()):
        part = df.select(
            F.lit(name).alias("family"), "doc_a", "doc_b"
        ).distinct()
        u = part if u is None else u.unionByName(part)
    # Session cache seam (VERDICT r4 item 6): the five family pipelines
    # are the whole cost of this op; in a curation run their pair
    # relations are persisted once and every meta-analysis reads them.
    # ``.cache()`` + an eager count materializes the tagged union ONCE,
    # and because every family plan is pure/deterministic (no
    # checkpoint RDDs), Spark's CacheManager canonical-plan dedup makes
    # every later matrix call in the session — and both sides of this
    # call's self-join — read the in-memory relation instead of
    # re-deriving five pipelines. ``session.release_caches`` drops it.
    u = u.cache()
    u.count()
    a = u.select(
        F.col("family").alias("family_a"), "doc_a", "doc_b"
    )
    b = u.select(
        F.col("family").alias("family_b"), "doc_a", "doc_b"
    )
    return (
        a.join(b, ["doc_a", "doc_b"])
        .groupBy("family_a", "family_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
