"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Two paths, mirroring what a 100 TB vector corpus needs:

- ``ann_topk_bruteforce`` — exact cosine top-k for a small query set:
  broadcast the queries, scan the corpus once, per-partition heap via
  window rank. This is the *correctness baseline* and also the right plan
  whenever |queries| is small (queries broadcast; corpus never shuffles —
  the only exchange is the final per-query top-k).
- ``lsh_hyperplane_buckets`` — random-hyperplane LSH: 8 deterministic
  hash-derived hyperplanes -> 8-bit bucket per vector. At scale, ANN
  probes only matching buckets (candidate generation linear, like the
  MinHash band join in :mod:`dedup`).

Plan notes: hyperplane weights are PRECOMPUTED on the driver (512 md5s,
bit-identical to the oracle's SQL formula — see
:func:`...functions.hash_unit_weight`) and inlined as literal arrays, so
bucket assignment is a narrow map over the embedding column: no
posexplode, no plane-table join, no shuffle at all. The earlier
explode+join formulation moved |corpus| x 64 x 8 rows through a join; this
one moves |corpus| rows through a projection.

All arithmetic is cast to double BEFORE multiplication so Spark and the
DuckDB oracle accumulate in the same precision; scores round to 6dp and
ranking uses the ROUNDED score (+ id tiebreak) so rank order is
engine-independent.

No UDFs: dot products are ``aggregate(zip_with(...))`` — whole-stage
codegen over array columns. A pandas_udf variant would only win for much
wider vectors (>1k dims) where per-row expression trees get deep; at 64
dims the native path is faster and shuffles nothing.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import (
    dot_product,
    grid_round,
    hash_unit_weight,
    values_relation,
    vec_norm,
)
from geektime_bigdata_spark.registry import ROW_WORK_BYTES, spread, table
from geektime_bigdata_spark.session import session_memo

N_PLANES = 8
N_DIMS = 64
N_QUERIES = 5
TOP_K = 5


def _plane_weights() -> list[list[float]]:
    """The 8x64 deterministic hyperplane matrix, derived from
    md5("p,d") exactly like the oracle SQL derives it."""
    return [
        [hash_unit_weight(f"{p},{d}") for d in range(N_DIMS)]
        for p in range(N_PLANES)
    ]


def _bucket_expr() -> Column:
    """8-bit LSH bucket from the ``embedding`` column: for each plane, a
    literal-array dot product (constant-folded weights) and a sign bit."""
    weights = _plane_weights()
    terms = []
    for p, w in enumerate(weights):
        w_arr = f"array({', '.join(f'CAST({x} AS DOUBLE)' for x in w)})"
        # per-term micro-quantized projection (see functions.dot_product):
        # the sign test is a knife-edge, so the sum must be
        # order-independent to stay engine-identical
        proj = (
            f"aggregate(zip_with(embedding, {w_arr}, "
            f"(x, y) -> CAST(floor(CAST(x AS DOUBLE) * y * 1000000.0D"
            f" + 0.5D) AS BIGINT)), "
            f"0L, (acc, v) -> acc + v)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << p}L ELSE 0L END")
    return F.expr(" + ".join(terms)).alias("bucket")


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 5).

    Queries broadcast against the corpus scan; cosine is a codegen'd
    array fold; ranking partitions by query only (5 partitions of 500
    candidates — at scale, |corpus| rows stream through per-partition
    top-k heaps before the tiny final exchange)."""
    e = table(spark, sf_dir, "embeddings")
    # r17 (guide §2.3): norms are per-VECTOR, so the interpreted
    # vec_norm fold evaluates in each SIDE projection (|Q| + |corpus|
    # evaluations) instead of twice per scored PAIR; the division on
    # the joined row multiplies the same doubles — bit-identical.
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        vec_norm("embedding").alias("q_nrm"),
    )
    cand = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        vec_norm("embedding").alias("c_nrm"),
    )
    cos = dot_product("q_emb", "c_emb") / (
        F.col("q_nrm") * F.col("c_nrm")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", grid_round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= TOP_K)


def embedding_norms_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (SURVEY.md §2.8): L2 norms over
    the embedding column computed batch-wise in numpy.

    This op exists to exercise the vectorized-UDF surface with oracle
    parity — the native ``vec_norm`` expression is the production path at
    64 dims; the pandas route wins only for much wider vectors or when a
    Python library (tokenizer, codec) is genuinely required."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def l2_norm(emb: pd.Series) -> pd.Series:
        # float32 -> float64 BEFORE squaring (the oracle's CAST(x AS
        # DOUBLE)), then micro-quantize each squared term and sum as
        # int64 — numpy's pairwise double summation is NOT the oracle's
        # sequential order, so only an integer sum is order-proof
        def one(v) -> float:
            sq = np.square(np.asarray(v, dtype=np.float64))
            micro = np.floor(sq * 1e6 + 0.5).astype(np.int64)
            return float(np.sqrt(int(micro.sum()) / 1e6))

        return emb.map(one)

    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", grid_round(l2_norm("embedding"), 6).alias("l2_norm")
    )


def lsh_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-hyperplane LSH bucket per vector — a pure
    projection (see module docstring), shuffle-free."""
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", _bucket_expr())


def _centroid_col_sql(i: int) -> str:
    """Micro-quantized mean of embedding dimension ``i`` as ONE SQL
    string. exact_sum/count, not avg: a per-group double sum is
    partition-order-dependent; quantizing each element to the 1e-6 grid
    makes the mean engine-identical. Unguarded micro-unit sum
    (exact_sum guarded=False semantics): elements are unit-range
    (|micro| <= ~1e7) so the long envelope holds past 1e11 rows per
    group, and 64 extra count/max guard aggregates would dominate the
    wide plan. One SQL string per column (identical IEEE op tree to the
    grid_round(exact_sum(..)/n) Column form) because 64 Column-builder
    pipelines cost ~1000 Py4J round-trips (~3s of driver time per call,
    measured) while 64 expr parses cost ~0.2s."""
    x = f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
    s = (
        f"CAST(sum(CAST(floor({x} * 1000000.0D + 0.5D) AS BIGINT))"
        f" / 1000000.0D AS DOUBLE)"
    )
    mean = f"{s} / count(1)"
    return (
        f"CAST(floor(({mean}) * 1000000.0D + 0.5D) / 1000000.0D"
        f" AS DOUBLE)"
    )


def _centroid_agg_cols() -> list[Column]:
    return [
        F.expr(_centroid_col_sql(i)).alias(f"c{i}") for i in range(N_DIMS)
    ]


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector (the coarse quantizer an IVF index trains
    with k-means; here the label partition IS the cell assignment of the
    training step). 64 parallel ``avg(element_at(...))`` aggregate
    expressions over ONE hash shuffle on ``label`` — never a
    posexplode (which would multiply the shuffle 64x). Output is wide
    (c0..c63, rounded 6dp) so the oracle compares scalar columns, not
    arrays. Spread at ROW_WORK_BYTES: the single-file scan otherwise
    leaves all 64 partial aggregates on one core (measured 2.6s -> ~0.3s
    at sf0.1); exact_sum's integer partials are order-independent, so
    the repartition cannot perturb the result."""
    e = spread(table(spark, sf_dir, "embeddings"), ROW_WORK_BYTES)

    return (
        e.groupBy("label")
        .agg(*_centroid_agg_cols())
        .orderBy("label")
    )


_D2_FOLD_SQL = (
    "aggregate(zip_with(embedding, c.cent, "
    "(x, y) -> CAST(floor((CAST(x AS DOUBLE) - y)"
    " * (CAST(x AS DOUBLE) - y) * 1000000.0D + 0.5D) AS BIGINT)), "
    "0L, (a, v) -> a + v)"
)


def _cells_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10x64 centroid table collapsed to ONE broadcastable row of
    array<struct<cell,cent>> — shared by single- and multi-probe
    assignment folds. Cached: the CacheManager substitutes it into any
    later plan containing the same subtree, so the 64-column centroid
    aggregation runs once per session however many probes/assignments
    consume it (measured: multiprobe 2.2s -> ~1.3s at sf0.1)."""
    cents = label_centroids(spark, sf_dir).select(
        F.col("label").alias("cell"),
        F.array(*[F.col(f"c{i}") for i in range(N_DIMS)]).alias("cent"),
    )
    return cents.agg(
        F.collect_list(F.struct("cell", "cent")).alias("cells")
    ).cache()


def _ivf_probe_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Arrow-vectorized corpus pass computing, per vector, every
    per-row quantity the IVF family previously derived through
    interpreted HOF folds (r18, VERDICT r17 item 1 / guide §4.2-4.3):

    - ``cell``: nearest-centroid assignment (argmin by (d2, cell)),
    - ``cell_order``: ALL cells sorted by (d2, cell) — the multiprobe
      probe list for ANY n_probes is ``slice(cell_order, 1, n)`` and
      ``cell = cell_order[1]``,
    - ``bucket``: the 8-plane LSH bucket (:func:`_bucket_expr`),
    - ``nrm``: the micro-quantized L2 norm (:func:`vec_norm`).

    Bit-identical to the SQL folds by construction: float32 widens to
    float64 FIRST, every per-term product/square micro-quantizes via
    ``floor(x * 1e6 + 0.5)`` into int64 BEFORE the (associative)
    integer sum — the identical IEEE op tree, so neither batch
    boundaries nor numpy's evaluation order can move a bit. The
    centroid columns sit in ascending-cell order, so a STABLE argsort
    on d2 reproduces the (d2, cell) struct ordering of
    array_min/array_sort exactly. Before: each of bucket/assign/probe
    was a per-row interpreted lambda over 64-dim arrays (HOFs never
    enter codegen) evaluated up to twice per consumer; the r17 plan
    shows five such folds in semantic_dedup_multiprobe alone.

    Natural scan splits, NOT a registry spread (the r17
    embedding_gram_matrix lesson, guide §4.3): the per-partition work
    is numpy-vectorized, so a 32-way spread of the small corpus only
    multiplies Python-worker/Arrow per-task overhead; at real scale
    the scan's own file splits parallelize the batches.

    The 10x64 centroid matrix is collected driver-side off the cached
    :func:`_cells_one` relation (bounded by the cell count — the same
    driver-scalar class as the broadcast row it replaces) and ships in
    the Arrow closure. Inputs are fixed-width ``N_DIMS`` with no NULLs
    by construction (TESTDATA.md); a malformed row fails loudly rather
    than skewing silently."""
    import numpy as np
    import pyarrow as pa

    cells = _cells_one(spark, sf_dir).collect()[0]["cells"]
    cents = sorted(
        (int(c["cell"]), [float(v) for v in c["cent"]]) for c in cells
    )
    cell_ids = np.array([c[0] for c in cents], dtype=np.int64)
    cmat = np.array([c[1] for c in cents], dtype=np.float64)  # (k, d)
    wmat = np.array(_plane_weights(), dtype=np.float64)  # (p, d)
    bits = np.left_shift(1, np.arange(N_PLANES, dtype=np.int64))
    k = len(cell_ids)

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )

    def compute(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column("embedding")
            if emb.null_count:
                raise ValueError("_ivf_probe_pass: NULL embedding row")
            offs = np.asarray(emb.offsets, dtype=np.int64)
            offs = offs - offs[0]
            if not np.all(np.diff(offs) == N_DIMS):
                raise ValueError("_ivf_probe_pass: ragged embedding row")
            x = np.asarray(emb.flatten(), dtype=np.float64).reshape(
                n, N_DIMS
            )
            # bucket: per-plane micro-quantized projection sign bits
            proj = (
                np.floor(x[:, None, :] * wmat[None, :, :] * 1e6 + 0.5)
                .astype(np.int64)
                .sum(axis=2)
            )
            bucket = ((proj > 0) * bits[None, :]).sum(axis=1)
            # nrm: vec_norm's micro-quantized squared-term sum
            micro = (
                np.floor(x * x * 1e6 + 0.5).astype(np.int64).sum(axis=1)
            )
            nrm = np.sqrt(micro / 1e6)
            # d2 to every centroid; stable argsort = (d2, cell) order
            diff = x[:, None, :] - cmat[None, :, :]
            d2 = (
                np.floor(diff * diff * 1e6 + 0.5)
                .astype(np.int64)
                .sum(axis=2)
            )
            ranked = cell_ids[np.argsort(d2, axis=1, kind="stable")]
            # simplified-silhouette micros off the SAME d2 matrix (r18
            # rider — cluster_silhouette's own Arrow stage read slower
            # in-bench than this zero-marginal-cost column): a = sqrt
            # of the OWN-LABEL cell's d2, b = min over other cells,
            # s = (b-a)/max(a,b) with the single-label and max=0 edges
            # defined as 0 (ADVICE r15; mirrored in the oracle), all in
            # float64 exactly as the former WHEN chain evaluated
            labels = np.asarray(batch.column("label"), dtype=np.int64)
            own = np.searchsorted(cell_ids, labels)
            if np.any(own >= k) or np.any(cell_ids[own] != labels):
                raise ValueError("_ivf_probe_pass: label w/o centroid")
            rows_ix = np.arange(n)
            a_d = np.sqrt(d2[rows_ix, own] / 1e6)
            if k == 1:
                sil_sm = np.zeros(n, dtype=np.int64)
            else:
                d2o = d2.copy()
                d2o[rows_ix, own] = np.iinfo(np.int64).max
                b_d = np.sqrt(d2o.min(axis=1) / 1e6)
                g = np.maximum(a_d, b_d)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s_v = np.where(g == 0.0, 0.0, (b_d - a_d) / g)
                sil_sm = np.floor(s_v * 1e6 + 0.5).astype(np.int64)
            # cell ids are the int32 label column's values — the
            # declared outputs that surface `cell` (ann_topk_ivf*,
            # cluster_balanced_sample, kmeans_step) hash their schema,
            # so the type must stay IntegerType exactly
            order_col = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * k, k, dtype=np.int64),
                    type=pa.int32(),
                ),
                pa.array(ranked.reshape(-1), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    batch.column("embedding"),
                    pa.array(ranked[:, 0], type=pa.int32()),
                    pa.array(bucket, type=pa.int64()),
                    pa.array(nrm, type=pa.float64()),
                    order_col,
                    batch.column("label"),
                    pa.array(sil_sm, type=pa.int64()),
                ],
                ["vec_id", "embedding", "cell", "bucket", "nrm",
                 "cell_order", "label", "sil_sm"],
            )

    return e.mapInArrow(
        compute,
        "vec_id long, embedding array<float>, cell int, bucket long,"
        " nrm double, cell_order array<int>, label int, sil_sm long",
    )


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index: every vector assigned to its nearest centroid
    cell, plus the per-vector LSH bucket, L2 norm and full probe order
    — ``(vec_id, embedding, cell, bucket, nrm, cell_order)``,
    materialized once per (session, sf_dir).

    Since r18 the assignment (and the bucket/norm/probe columns the
    family's consumers used to re-derive through per-row interpreted
    folds) comes from ONE Arrow-vectorized pass — see
    :func:`_ivf_probe_pass` for the bit-identity argument. The
    localCheckpoint'ed frame is a :func:`session_memo` serving every
    consumer in the session; in production the index is a persisted
    table built by an indexing job, and the memo is its in-session
    stand-in.

    r17 measured revert kept for the record (guide §1.1): sharing a
    cached (vec_id, embedding, d2s) array<struct> relation between
    consumers REGRESSED multiprobe 2.85 -> 4.13 s because decoding the
    cached nested column cost more than re-running the fold; the r18
    pass instead shares narrow scalar columns (two longs, a double, a
    10-long list), which the in-memory format decodes cheaply."""
    return session_memo(spark, sf_dir, _ivf_index)


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_probe_pass(spark, sf_dir).localCheckpoint()


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid cell
    (L2, broadcast 10x64 centroid table, deterministic rounded-distance
    + cell tiebreak — see :func:`_ivf_assigned`), then search top-k ONLY
    within the query's cell.

    This is the scale path next to :func:`ann_topk_bruteforce`: the
    scored pair space shrinks from |Q| x |corpus| to |Q| x |cell|, and
    the cell equi-join replaces the cross join — at 100 TB the corpus
    is hash-partitioned by cell so each probe touches one partition
    group. (A production IVF adds multi-probe for recall; single-probe
    keeps the oracle exact.) Centroids are the ROUNDED label means so
    both engines quantize identically."""
    assigned = _ivf_assigned(spark, sf_dir)
    # norms ride the Arrow probe pass (r18) — see _ivf_probe_pass
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        "cell",
    )
    cand = assigned.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("cell").alias("cell_c"),
    )
    cos = dot_product("q_emb", "c_emb") / (
        F.col("q_nrm") * F.col("c_nrm")
    )
    scored = (
        F.broadcast(q)
        .join(
            cand,
            (F.col("cell") == F.col("cell_c"))
            & (F.col("query_id") != F.col("cand_id")),
        )
        .select("query_id", "cand_id", "cell", grid_round(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= TOP_K)


def ann_topk_ivf_multiprobe(
    spark: SparkSession, sf_dir: str, n_probes: int = 2
) -> DataFrame:
    """Multi-probe IVF ANN: each query searches its ``n_probes`` nearest
    centroid cells instead of one — the standard recall knob a real
    curation run turns (single-probe misses true neighbors that sit just
    across a cell boundary; probing the runner-up cell recovers most of
    them for ~2x the scored candidates, still nothing like |corpus|).

    Plan shape (r18): the probe list is ``slice(cell_order, 1,
    n_probes)`` off the Arrow-built index relation — the full (d2,
    cell)-sorted cell order is a per-vector column of
    :func:`_ivf_probe_pass`, so the per-query interpreted
    ``array_sort(transform(...))`` fold (and its broadcast centroid
    crossJoin) is gone; bit-identity argued there. Candidates come
    from the same index, so the join fans out to |Q| x n_probes cell
    partitions. Each candidate lives in exactly one cell and probe
    cells are distinct, so no pair appears twice — no dedup pass
    needed. Recall@5 >= the single-probe path by construction
    (test-enforced against the brute-force baseline)."""
    assigned = _ivf_assigned(spark, sf_dir)
    probes = F.expr(f"slice(cell_order, 1, {int(n_probes)})")
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(probes).alias("cell"),
    )
    cand = assigned.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("cell").alias("cell_c"),
    )
    cos = dot_product("q_emb", "c_emb") / (
        F.col("q_nrm") * F.col("c_nrm")
    )
    scored = (
        F.broadcast(q)
        .join(
            cand,
            (F.col("cell") == F.col("cell_c"))
            & (F.col("query_id") != F.col("cand_id")),
        )
        .select(
            "query_id", "cand_id", "cell", grid_round(cos, 6).alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= TOP_K)


def cluster_balanced_sample(
    spark: SparkSession, sf_dir: str, cap: int = 30
) -> DataFrame:
    """Topic-balanced subsample: keep at most ``cap`` vectors per IVF
    cell — the curation step that stops a dominant topic cluster from
    flooding a training mix (the cluster-balancing half of SemDeDup-style
    pipelines; the near-dup half is :func:`semantic_dedup`).

    Rank within cell is an md5 of the vec_id (deterministic,
    engine-portable, uncorrelated with insertion order — ``rand()``
    would be irreproducible across cluster sizes), vec_id tiebreak.
    Scale shape: reuses the cached IVF assignment; one hash shuffle on
    ``cell`` for the per-cell ranking window — rank windows never see
    more than a cell's rows, and at 100 TB cells are bounded because
    the quantizer's cell count grows with the corpus."""
    assigned = _ivf_assigned(spark, sf_dir)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.concat_ws(":", F.lit("bal"), F.col("vec_id"))),
        F.col("vec_id"),
    )
    return (
        assigned.select("vec_id", "cell")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
    )


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: vectors in the same LSH
    bucket with cosine >= 0.4 (threshold tuned to the synthetic corpus,
    whose max pairwise cosine is ~0.51; real embedding corpora would use
    ~0.95). The bucket equi-join bounds the pair space (the scale path);
    cosine verifies exactly."""
    e = table(spark, sf_dir, "embeddings")
    # per-side norm projection (r17) — see ann_topk_bruteforce
    ev = e.select(
        "vec_id", "embedding", _bucket_expr(), vec_norm("embedding").alias("nrm")
    )
    a = ev.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "bucket",
    )
    c = ev.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cos = dot_product("emb_a", "emb_b") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        a.join(
            c,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", grid_round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the standard
    vector-store compression (4x over float32): per-vector scale =
    max|x| / 127, elements snapped to ``floor(x * 127 / max|x| + 0.5)``.
    Output: per-vector scale (grid-rounded) + the int8 codes as a
    canonical comma-joined string (arrays don't hash across engines).

    A pure narrow projection — array_max and the transform never leave
    the row, so at 100 TB this is a scan-speed rewrite pass; the
    quantization arithmetic is the same two IEEE ops in every engine
    (exact_sum's determinism contract applied element-wise). Zero
    vectors quantize to all-zero codes with scale 0 rather than NaN."""
    e = table(spark, sf_dir, "embeddings")
    xd = "transform(embedding, x -> CAST(x AS DOUBLE))"
    m = F.expr(f"array_max(transform({xd}, x -> abs(x)))")
    codes = F.expr(
        f"concat_ws(',', transform({xd}, "
        f"x -> CAST(CAST(CASE WHEN m = 0.0D THEN 0.0D "
        f"ELSE floor(x * 127.0D / m + 0.5D) END AS BIGINT) AS STRING)))"
    )
    return (
        e.withColumn("m", m)
        .select(
            "vec_id",
            grid_round(F.col("m") / 127.0, 6).alias("qscale"),
            codes.alias("q_str"),
        )
    )


# tuned to the synthetic corpus so the removal list is non-empty at the
# driver's sf0.01 correctness scale (max candidate-pair cos there ~0.34;
# real embedding corpora would use ~0.95)
SEMDEDUP_THETA = 0.2


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within
    each IVF cell, a vector is REMOVED when a lower-id vector in the
    same cell is semantically close (cosine >= theta); the lowest such
    neighbor is recorded as its keeper. Output:
    ``(vec_id, keeper_id, cos_sim)`` — the removal list a curation
    pipeline anti-joins against the corpus.

    Candidate bounding is cell + LSH bucket (the same two-level
    coarse-quantizer a production vector store probes): pairs are
    generated ONLY inside a (cell, bucket) group, never all-pairs — at
    100 TB the corpus is hash-partitioned by (cell, bucket) and each
    group is small and independent, at the usual LSH recall/cost
    tradeoff (a multi-probe variant would raise recall; single-probe
    keeps the oracle exact). The keeper choice (min id_a, via min_by on
    the unique-per-group id) is deterministic, so the whole output is
    hashable cross-engine."""
    # bucket and nrm ride the Arrow probe pass (r18) — the two per-row
    # interpreted folds this op layered on the index are now index
    # columns; see _ivf_probe_pass
    ev = _ivf_assigned(spark, sf_dir)
    a = ev.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "cell",
        "bucket",
    )
    b = ev.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("cell").alias("cell_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cos = dot_product("emb_a", "emb_b") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", grid_round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEMDEDUP_THETA)
    )
    return pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("keeper_id"),
        F.min_by("cos_sim", "id_a").alias("cos_sim"),
    )


def semantic_dedup_multiprobe(
    spark: SparkSession, sf_dir: str, n_probes: int = 2
) -> DataFrame:
    """Multi-probe SemDeDup: like :func:`semantic_dedup` but a pair is a
    candidate when EITHER vector's home cell appears in the other's
    ``n_probes`` nearest cells (still bucket-gated) — recovering the
    near-duplicates that single-probe misses because the pair straddles
    an IVF cell boundary. The removed-id set is a superset of the
    single-probe removal list by construction (test-enforced).

    Scale shape: the probe relation is |corpus| x n_probes narrow rows
    (vec_id, bucket, cell — no embedding duplication); candidates come
    from ONE symmetric (cell, bucket) equi-join of the assigned relation
    against the probe relation — an (a, p) match in either row order
    covers both "a's home cell in p's probes" and the converse, so the
    least/greatest pair key + distinct reproduces the two-directional
    union at half the join work (measured 6.3s -> 5.4s at sf0.1,
    bit-identical output). Pair space stays linear in bucket
    collisions, never all-pairs, and the distinct runs before any
    cosine is scored, so the expensive fold runs once per candidate.

    r18: bucket, probe order and norms all ride the Arrow-built index
    (:func:`_ivf_probe_pass`) — before, this one query evaluated FIVE
    per-row interpreted folds over the corpus (two bucket expressions,
    the probe array_sort fold, and a vec_norm per verify side)."""
    assigned = _ivf_assigned(spark, sf_dir)
    pv = assigned.select(
        "vec_id",
        "bucket",
        F.explode(
            F.expr(f"slice(cell_order, 1, {int(n_probes)})")
        ).alias("cell"),
    )
    av = assigned.select("vec_id", "cell", "bucket")
    cand = (
        av.alias("x")
        .join(
            pv.alias("y"),
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(
            F.least("x.vec_id", "y.vec_id").alias("id_a"),
            F.greatest("x.vec_id", "y.vec_id").alias("id_b"),
        )
        .distinct()
    )
    ea = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot_product("emb_a", "emb_b") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    close = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", grid_round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEMDEDUP_THETA)
    )
    return close.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("keeper_id"),
        F.min_by("cos_sim", "id_a").alias("cos_sim"),
    )


def kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus: assign
    every vector to its nearest current centroid (the label means —
    exactly :func:`_ivf_assigned`'s index build), then recompute each
    cell's mean. Output is the NEW centroid table ``(cell, c0..c63)`` —
    feeding it back as the next assignment's quantizer is the iterative
    loop an IVF index trains with.

    The iteration is two narrow passes + one wide aggregate: a per-row
    argmin fold (no row expansion, no window — see _ivf_assigned) and a
    64-column micro-quantized mean over ONE hash shuffle on cell. That
    is the canonical distributed k-means step: at 100 TB each executor
    computes partial (sum, count) per cell map-side and ships 10x64
    partials, never vectors. Determinism: assignment ranks integer
    micro-unit distances and means quantize per element, so the whole
    step is engine-identical (same contract as label_centroids)."""
    assigned = _ivf_assigned(spark, sf_dir)
    return (
        assigned.groupBy("cell")
        .agg(*_centroid_agg_cols())
        .orderBy("cell")
    )


def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label SIMPLIFIED silhouette — the clustering-quality gate a
    curation pipeline runs after k-means/IVF training (is the semantic
    partition real, or should the cell count change?). The classic
    silhouette is all-pairs within and across clusters — O(n^2) and
    dead at corpus scale; the simplified variant (Vendramin et al.'s
    centroid formulation, what scikit-learn calls "simplified
    silhouette") replaces mean pairwise distances with distances to
    centroids: a(i) = d(x_i, centroid(own label)), b(i) = min over
    OTHER labels of d(x_i, centroid_l), s(i) = (b-a)/max(a,b). That
    makes the whole statistic one narrow map over the corpus against
    the broadcast 10x64 centroid row (the same fold as _ivf_assigned)
    plus one hash aggregate on label — no pair expansion anywhere.

    Output per label: n_vecs, mean_silhouette, and n_negative (vectors
    closer to a foreign centroid than their own — the misassignment
    count, the actionable number). Determinism: per-element squared
    deltas micro-quantize to LONG (the _D2_FOLD_SQL contract), sqrt and
    the (b-a)/max(a,b) ratio are identical IEEE ops on exact integer
    ratios, s quantizes back to micros before the group sum (integer —
    associative), and the mean divides two exact integers.

    r18 (guide §4.2/§2.4): the per-row centroid-distance fold (an
    interpreted ``transform`` over k cells x 64 dims per vector) moved
    into the Arrow index pass, which already computes the full d2
    matrix — ``sil_sm`` is a zero-marginal-cost column of
    :func:`_ivf_probe_pass` (bit-identity argued there; a/b/s run in
    float64 exactly as the old WHEN chain, a lone distinct label and
    the max(a,b)=0 knife-edge both still define s = 0 — ADVICE r15,
    mirrored in the oracle; ``sm = floor(s * 1e6 + 0.5)`` quantizes
    before the associative integer group sum). This query is then ONE
    aggregate over the memoized index (a first standalone Arrow stage
    variant measured SLOWER in-bench than the old fold — 0.97 -> 1.46 s
    — because the per-query collect + single-task Python stage cost
    more than it saved; riding the shared memo removes both)."""
    per_vec = _ivf_assigned(spark, sf_dir).select("label", "sil_sm")
    per_vec = per_vec.select("label", F.col("sil_sm").alias("sm"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        grid_round(
            F.sum("sm").cast("double") / F.lit(1000000.0) / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
        F.sum(F.when(F.col("sm") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
    )


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding corpus — the
    d x d building block of PCA / whitening / linear probing, computed
    the only way that works at 100 TB: PARTIAL Gram per Arrow batch in
    numpy (a (b, d) slab contracts to d x d via one einsum — vectorized,
    no Python loop over rows), quantized per-product to the 1e-6 grid
    BEFORE any summation, then one d^2-row integer merge. The shuffle
    carries d^2 longs per task — never the vectors.

    Determinism contract: each addend is
    ``floor(float64(x_i) * float64(x_j) * 1e6 + 0.5)`` — the float32
    embeddings are widened to float64 FIRST (matching the oracle's
    ``CAST(... AS DOUBLE)``), products are identical IEEE ops on both
    engines, and the merged sum is an associative integer. The output
    is the raw LONG micro-unit Gram entry (strongest contract form).
    Only the upper triangle i <= j is emitted (the matrix is symmetric;
    half the shuffle for free)."""
    import numpy as np
    import pandas as pd

    # natural scan splits, NOT a registry spread (r17, guide §4.3): the
    # per-partition work here is numpy-VECTORIZED (one einsum per
    # batch), so the spread hint only multiplied Python-worker/Arrow
    # per-task overhead — 32 near-idle workers for one small einsum
    # each (measured 2.7 s / 20 CPU-s spread vs 0.9 s / ~1 CPU-s
    # natural at sf0.1). At real scale the scan's own file splits
    # parallelize the partials; the interpreted-HOF pipelines keep the
    # spread hint because their per-ROW cost is the bottleneck there.
    e = table(spark, sf_dir, "embeddings")
    d = N_DIMS
    iu = np.triu_indices(d)

    def partial_gram(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        chunk = 512  # (512, d, d) float64 ≈ 16 MB transient; a whole
        # 10k-row Arrow batch at once would peak near 1 GB per task
        for pdf in batches:
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if x.size == 0:
                continue
            seen = True
            # per-row outer products, floored per product — quantization
            # happens BEFORE any sum, so neither the chunk split nor the
            # merge order can change a single bit
            for lo in range(0, x.shape[0], chunk):
                prods = np.einsum(
                    "bi,bj->bij", x[lo : lo + chunk], x[lo : lo + chunk]
                )
                acc += (
                    np.floor(prods * 1e6 + 0.5).astype(np.int64).sum(axis=0)
                )
        if seen:
            yield pd.DataFrame(
                {
                    "i": iu[0] + 1,
                    "j": iu[1] + 1,
                    "gram_micros": acc[iu],
                }
            )

    partials = e.select("embedding").mapInPandas(
        partial_gram, "i long, j long, gram_micros long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("gram_micros").alias("gram_micros")
    )


def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via ``mapInArrow`` — the Arrow-NATIVE UDF tier below the
    pandas one (no pandas conversion at all: the ListArray's flat values
    buffer goes straight to numpy and per-row sums come from offset
    differencing — zero Python per row, zero per-row allocation).
    Differential twin of :func:`embedding_norms_pandas`: same output
    schema, same oracle, so the two UDF tiers check each other.

    Same determinism contract: float32 widened to float64 first, each
    squared term micro-quantized, per-row integer sums via cumsum
    differencing (associative — batch boundaries cannot matter)."""
    import numpy as np
    import pyarrow as pa

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        for batch in batches:
            emb = batch.column("embedding")
            offs = np.asarray(emb.offsets, dtype=np.int64)
            offs = offs - offs[0]
            flat = np.asarray(emb.flatten(), dtype=np.float64)
            micro = np.floor(flat * flat * 1e6 + 0.5).astype(np.int64)
            csum = np.concatenate(([0], np.cumsum(micro)))
            sums = csum[offs[1:]] - csum[offs[:-1]]
            l2 = np.sqrt(sums / 1e6)
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), pa.array(l2, type=pa.float64())],
                ["vec_id", "l2_norm"],
            )

    out = e.mapInArrow(norms, "vec_id long, l2_norm double")
    return out.select("vec_id", grid_round(F.col("l2_norm"), 6).alias("l2_norm"))


def kmeans_train(
    spark: SparkSession, sf_dir: str, iters: int = 3
) -> tuple[DataFrame, list[int]]:
    """The full Lloyd LOOP around :func:`kmeans_step` — assignment and
    re-estimation iterated ``iters`` times from the label-centroid
    init, with the micro-unit INERTIA (sum of min squared distances,
    LONG) recorded per iteration. Returns (final centroids, inertias).

    Two things make iterative DataFrame training viable, both load-
    bearing at scale: (1) each new centroid table is ``localCheckpoint``ed
    — without severing, iteration t's plan embeds t-1's three times over
    and analysis cost grows 3^t (the CC-loop lesson, SURVEY §7.5);
    (2) the only driver-side data per iteration is k x d centroid
    scalars and one inertia long — vectors never leave the cluster.
    Pytest enforces Lloyd's contract: inertia is non-increasing across
    iterations (up to the 1e-6 centroid quantization)."""
    e = spread(table(spark, sf_dir, "embeddings"), ROW_WORK_BYTES)
    cent = label_centroids(spark, sf_dir).select(
        F.col("label").alias("cell"),
        *[F.col(f"c{i}") for i in range(N_DIMS)],
    )
    best = F.expr(
        "array_min(transform(cells, c -> named_struct("
        f"'d2', {_D2_FOLD_SQL}, "
        "'cell', c.cell)))"
    )
    inertias: list[int] = []
    for _ in range(iters):
        one = cent.select(
            "cell",
            F.array(*[F.col(f"c{i}") for i in range(N_DIMS)]).alias("cent"),
        ).agg(F.collect_list(F.struct("cell", "cent")).alias("cells"))
        assigned = e.crossJoin(F.broadcast(one)).select(
            "vec_id", "embedding", best.alias("best")
        )
        inertias.append(
            assigned.agg(F.sum("best.d2")).collect()[0][0]
        )
        cent = (
            assigned.select(F.col("best.cell").alias("cell"), "embedding")
            .groupBy("cell")
            .agg(*_centroid_agg_cols())
            .localCheckpoint()
        )
    return cent, inertias


def embedding_norms_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms through the ARROW-OPTIMIZED scalar Python UDF
    (``F.udf(..., useArrow=True)``) — the remaining §2.8 UDF tier: the
    row-at-a-time Python UDF API with Arrow (not pickle) transport.
    Third differential twin of the same contract — native ``vec_norm``
    expression, vectorized ``pandas_udf``, ``mapInArrow``, and now the
    arrow-optimized scalar UDF all share one oracle, so every Python
    execution tier cross-checks the others. Per-element micro-unit
    quantization before the integer sum keeps the result independent of
    summation order, exactly like the pandas twin. The pandas/native
    tiers remain the production paths; this documents (and tests) the
    migration default (``spark.sql.execution.pythonUDF.arrow.enabled``)
    applied to legacy per-row UDFs."""
    import math

    from pyspark.sql import functions as FN

    @FN.udf("double", useArrow=True)
    def l2_norm_rowwise(emb) -> float:
        total = 0
        for x in emb:
            xd = float(x)
            total += math.floor(xd * xd * 1e6 + 0.5)
        return math.sqrt(total / 1e6)

    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        grid_round(l2_norm_rowwise("embedding"), 6).alias("l2_norm"),
    )

PCA_POWER_STEPS = 3
PCA_TOP2_STEPS = 8  # block-iteration rounds; see embedding_pca_top2


def _gram_full_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL (symmetrized) Gram matrix, localCheckpoint'ed and
    held in a :func:`session_memo`: the corpus-scale cost of every
    PCA-family consumer is this one X^T X pass (VERDICT r4 item 6's
    principle applied to the second twice-derived relation). d^2 longs
    of state."""
    return session_memo(spark, sf_dir, _gram_full)


def _gram_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the union references tri twice; checkpoint so the Gram pass
    # (mapInPandas einsum) runs once, not per reference
    tri = embedding_gram_matrix(spark, sf_dir).localCheckpoint()
    return tri.unionByName(
        tri.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "gram_micros"
        )
    ).localCheckpoint()


def _pca_power_iter(spark, g, steps):
    """Shared power-iteration loop on a (i, j, gram_micros) relation:
    ``steps`` rounds of multiply -> normalize, returning
    (v: (j, v_micros) unit iterate, lam: 1-row (lambda_micros)).

    Job-count shape (the d x d stage is overhead-bound, not
    data-bound): the squared-norm rides the SAME 64-row frame as the
    iterate via an unpartitioned window sum (integer terms, so the
    single-partition fold is order-independent) instead of a separate
    scalar aggregate crossJoined back per step — one exchange fewer
    per iteration, and the norm lands INSIDE the per-iteration
    localCheckpoint, so lambda reads a materialized column instead of
    re-running the final multiply chain per downstream reference.
    Verified bit-equal to the former agg+crossJoin form at sf0.1
    (vectors and lambda identical; ~20% fewer jobs per loop).

    The per-iteration localCheckpoint is load-bearing, but the reason
    changed with the window-norm rewrite: each iterate is now
    referenced ONCE by the next step (the norm rides the frame), so
    the old 2^k re-execution argument (139 vs 104 jobs measured on
    the agg+crossJoin shape, where each iterate was referenced twice)
    no longer applies. Re-measured r13 on the single-reference shape:
    sparser cadences do cut jobs (per-step 35, every-2 31, every-4
    29, final-only 28 for an 8-step loop, all bit-equal) but NOT wall
    — interleaved same-boot medians read 2.05s (per-step) vs 2.15s
    (every-4) with fully overlapping scatter, and final-only is the
    SLOWEST variant (deeper nested broadcast/window plans shift the
    cost to driver planning). Per-step keeps the plan shallow at
    equal wall; cadence changes were REJECTED for lack of a
    repeatable win."""
    if steps < 1:
        # the n2_micros column (and hence lambda) only exists after at
        # least one multiply -> normalize round; with steps=0 the
        # initial iterate lacks it and the lam select below would fail
        # with an opaque AnalysisException (ADVICE r12)
        raise ValueError(
            f"_pca_power_iter requires steps >= 1, got {steps}"
        )
    v = spark.range(1, N_DIMS + 1).select(
        F.col("id").alias("j"),
        F.lit(125000).cast("long").alias("v_micros"),
    )
    win = Window.partitionBy(F.lit(1))
    for _ in range(steps):
        w = (
            g.join(F.broadcast(v.select("j", "v_micros")), "j")
            .select(
                "i",
                F.expr(
                    "CAST(floor((gram_micros / 1e6) * (v_micros / 1e6)"
                    " * 1e6 + 0.5) AS BIGINT)"
                ).alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("w_micros"))
        )
        v = (
            w.withColumn(
                "n2_micros",
                F.sum(
                    F.expr(
                        "CAST(floor((w_micros / 1e6) * (w_micros / 1e6)"
                        " * 1e6 + 0.5) AS BIGINT)"
                    )
                ).over(win),
            )
            .select(
                F.col("i").alias("j"),
                F.expr(
                    "CAST(floor((w_micros / 1e6) / sqrt(n2_micros / 1e6)"
                    " * 1e6 + 0.5) AS BIGINT)"
                ).alias("v_micros"),
                "n2_micros",
            )
            .localCheckpoint()
        )
    lam = v.select(
        F.expr(
            "CAST(floor(sqrt(max(n2_micros) / 1e6) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("lambda_micros")
    )
    return v.select("j", "v_micros"), lam


def embedding_pca_power(
    spark: SparkSession, sf_dir: str, steps: int = PCA_POWER_STEPS
) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER
    ITERATION on the distributed Gram matrix — the step after
    :func:`embedding_gram_matrix` in a PCA/whitening pipeline: at
    100 TB the corpus-scale work is the one Gram pass (X^T X partials,
    d^2 longs per task); the iteration itself runs on the d x d
    relation (driver-scale rows, but expressed as DataFrame joins so
    the same code serves d in the thousands).

    Determinism contract (every hashed value identical IEEE ops in
    both engines): the Gram stays in micro-unit LONGs; each
    matrix-vector term is ``floor((g/1e6) * (v/1e6) * 1e6 + 0.5)``
    summed as integers; the norm accumulates squared micro-terms the
    same way; and the normalized vector re-quantizes through the
    correctly-rounded ``sqrt`` (IEEE 754 exact-rounded, so
    libm-agnostic). v0 = 1/8 exactly (1/sqrt(64) is a power of two).
    Output: (component, v_micros, lambda_micros) — the unit
    eigenvector estimate after ``steps`` iterations and the Rayleigh
    estimate ||G v|| from the final multiply."""
    full = _gram_full_checkpointed(spark, sf_dir)
    v, lam = _pca_power_iter(spark, full, steps)
    return v.crossJoin(F.broadcast(lam)).select(
        F.col("j").alias("component"), "v_micros", "lambda_micros"
    )


def embedding_pca_top2(
    spark: SparkSession, sf_dir: str, driver_solve: bool = True
) -> DataFrame:
    """Top TWO principal directions by BLOCK power iteration: a
    2-column iterate with per-step Gram-Schmidt (orthogonal/subspace
    iteration, the textbook block generalization of the power method)
    — both directions advance in the SAME join + groupBy per step, so
    the sequential chain is ``PCA_TOP2_STEPS`` = 8 checkpointed steps
    instead of the prior 16 (8 per vector) plus a deflation
    materialization. Kept entirely on the d x d relation: the
    corpus-scale cost is still the one Gram pass.

    Since r16 the iteration itself runs DRIVER-SIDE by default
    (``driver_solve=True``): the Gram relation is d x d = 4096 rows BY
    CONSTRUCTION — bounded at any corpus scale, the same driver-scalar
    class as a collected threshold — while 8 distributed steps over it
    are pure scheduling overhead (this op was the job-census outlier
    at 104 jobs, then 79, then 39; the loop COUNT was always the
    cost, and no rewrite can schedule fewer than one job per
    checkpointed step). The Python loop runs THE SAME quantized IEEE
    recurrence in the same order (doubles are doubles; floor mirrors
    floor), so the result is BIT-IDENTICAL to the distributed path —
    asserted by the fast==distributed pytest, the pagerank-gate
    pattern. ``driver_solve=False`` keeps the distributed iteration
    (the adjudication twin; embedding_pca_power remains the
    distributed-iteration showcase in the bench set). FAILURE-CLASS
    caveat (ADVICE r16): the driver path executes EAGERLY — the
    ``g.collect()`` and the Python loop run at DataFrame-CONSTRUCTION
    time, and a quantized-rank-deficient spectrum surfaces as a Python
    ``ZeroDivisionError`` raised from this call, while the lazy
    distributed twin raises Spark's ``DIVIDE_BY_ZERO`` only at action
    time — same failure class (pytest-pinned parity), different
    exception type and timing; callers catching Spark exceptions
    around ``.collect()`` must also catch the construction-time
    ``ZeroDivisionError`` here. The corpus-scale
    stage — the one distributed Gram pass — is unchanged; only the
    d x d eigen-iteration moved to the driver.

    Adopted r14 over the sequential power + Hotelling-deflation shape
    after a measured win (VERDICT r13 item 4, house discipline —
    interleaved same-boot warm medians at sf0.1): wall 2.04s vs 3.18s
    with NON-overlapping scatter (block max 2.58 < sequential min
    2.84), Spark jobs 39 vs 79 — the job census outlier this op was,
    halved. The r13 cadence sweep already showed per-step jobs are
    not the cost; the sequential LOOP COUNT was, and the block shape
    is the structural fix. v1's trajectory is expression-identical to
    plain power iteration (Gram-Schmidt never alters column 1), so v1
    and lambda1 are bit-equal to the former shape; v2 differs on this
    near-degenerate spectrum (lam2/lam1 ~ 0.993) as truncated
    iteration must — the block v2 reads the HIGHER Rayleigh quotient
    (38.689M vs the deflation shape's 37.440M at sf0.1), i.e. it is
    the better second direction, not a numerics regression. The
    DuckDB oracle mirrors the block recipe step-for-step (regenerated
    in tandem; every hashed edge identical IEEE ops).

    Per-step Gram-Schmidt on the 64-row frame: normalize w1 -> u1;
    project w2 against u1 (dot and both squared norms ride the frame
    as window sums over integer terms — order-independent, no
    scalar-agg crossJoins); normalize. v2_0 alternates sign by
    component parity (unit norm, not parallel to v1_0). lambda1 =
    ||G v1|| from the final multiply; lambda2 = the Rayleigh quotient
    v2^T G v2 (one more d x d pass, the same cost class as the final
    sequential step it replaces).
    Output: (component, v1_micros, v2_micros, lambda1_micros,
    lambda2_micros) — 64 rows, both unit vectors on the micro grid."""
    g = _gram_full_checkpointed(spark, sf_dir)
    if driver_solve:
        import math

        d = N_DIMS
        gm: dict[tuple[int, int], int] = {
            (r["i"], r["j"]): r["gram_micros"] for r in g.collect()
        }
        if len(gm) != d * d:
            # structurally every (i, j) pair is emitted (the partial
            # Gram yields the full triu grid, zeros included); an
            # incomplete dict means a degenerate input (e.g. an empty
            # embeddings table) — fall through to the distributed
            # formulation, which degrades the same way on both paths
            return embedding_pca_top2(spark, sf_dir, driver_solve=False)
        ids = list(range(1, d + 1))
        v1 = {j: 125000 for j in ids}
        v2 = {j: (125000 if j % 2 == 0 else -125000) for j in ids}
        n1 = 0
        for _ in range(PCA_TOP2_STEPS):
            w1 = {
                i: sum(
                    math.floor(
                        (gm[(i, j)] / 1e6) * (v1[j] / 1e6) * 1e6 + 0.5
                    )
                    for j in ids
                )
                for i in ids
            }
            w2 = {
                i: sum(
                    math.floor(
                        (gm[(i, j)] / 1e6) * (v2[j] / 1e6) * 1e6 + 0.5
                    )
                    for j in ids
                )
                for i in ids
            }
            n1 = sum(
                math.floor((w1[i] / 1e6) * (w1[i] / 1e6) * 1e6 + 0.5)
                for i in ids
            )
            u1 = {
                i: math.floor(
                    (w1[i] / 1e6) / math.sqrt(n1 / 1e6) * 1e6 + 0.5
                )
                for i in ids
            }
            dot = sum(
                math.floor((u1[i] / 1e6) * (w2[i] / 1e6) * 1e6 + 0.5)
                for i in ids
            )
            p2 = {
                i: w2[i]
                - math.floor((dot / 1e6) * (u1[i] / 1e6) * 1e6 + 0.5)
                for i in ids
            }
            n2 = sum(
                math.floor((p2[i] / 1e6) * (p2[i] / 1e6) * 1e6 + 0.5)
                for i in ids
            )
            v1 = u1
            v2 = {
                i: math.floor(
                    (p2[i] / 1e6) / math.sqrt(n2 / 1e6) * 1e6 + 0.5
                )
                for i in ids
            }
        lam1 = math.floor(math.sqrt(n1 / 1e6) * 1e6 + 0.5)
        lam2 = sum(
            math.floor(
                (gm[(i, j)] / 1e6) * (v2[i] / 1e6) * (v2[j] / 1e6) * 1e6
                + 0.5
            )
            for i in ids
            for j in ids
        )
        return values_relation(
            spark,
            [(j, v1[j], v2[j], lam1, lam2) for j in ids],
            "component long, v1_micros long, v2_micros long,"
            " lambda1_micros long, lambda2_micros long",
        )
    win = Window.partitionBy(F.lit(1))
    v = spark.range(1, N_DIMS + 1).select(
        F.col("id").alias("j"),
        F.lit(125000).cast("long").alias("v1"),
        F.expr(
            "CAST(CASE WHEN id % 2 = 0 THEN 125000 ELSE -125000 END"
            " AS BIGINT)"
        ).alias("v2"),
    )
    for _ in range(PCA_TOP2_STEPS):
        w = (
            g.join(F.broadcast(v.select("j", "v1", "v2")), "j")
            .select(
                "i",
                F.expr(
                    "CAST(floor((gram_micros / 1e6) * (v1 / 1e6)"
                    " * 1e6 + 0.5) AS BIGINT)"
                ).alias("t1"),
                F.expr(
                    "CAST(floor((gram_micros / 1e6) * (v2 / 1e6)"
                    " * 1e6 + 0.5) AS BIGINT)"
                ).alias("t2"),
            )
            .groupBy("i")
            .agg(F.sum("t1").alias("w1"), F.sum("t2").alias("w2"))
        )
        v = (
            w.withColumn(
                "n1",
                F.sum(
                    F.expr(
                        "CAST(floor((w1 / 1e6) * (w1 / 1e6) * 1e6 + 0.5)"
                        " AS BIGINT)"
                    )
                ).over(win),
            )
            .withColumn(
                "u1",
                F.expr(
                    "CAST(floor((w1 / 1e6) / sqrt(n1 / 1e6) * 1e6 + 0.5)"
                    " AS BIGINT)"
                ),
            )
            .withColumn(
                "dot",
                F.sum(
                    F.expr(
                        "CAST(floor((u1 / 1e6) * (w2 / 1e6) * 1e6 + 0.5)"
                        " AS BIGINT)"
                    )
                ).over(win),
            )
            .withColumn(
                "p2",
                F.expr(
                    "CAST(w2 - CAST(floor((dot / 1e6) * (u1 / 1e6)"
                    " * 1e6 + 0.5) AS BIGINT) AS BIGINT)"
                ),
            )
            .withColumn(
                "n2",
                F.sum(
                    F.expr(
                        "CAST(floor((p2 / 1e6) * (p2 / 1e6) * 1e6 + 0.5)"
                        " AS BIGINT)"
                    )
                ).over(win),
            )
            .select(
                F.col("i").alias("j"),
                F.col("u1").alias("v1"),
                F.expr(
                    "CAST(floor((p2 / 1e6) / sqrt(n2 / 1e6) * 1e6 + 0.5)"
                    " AS BIGINT)"
                ).alias("v2"),
                "n1",
            )
            .localCheckpoint()
        )
    lam1 = v.select(
        F.expr(
            "CAST(floor(sqrt(max(n1) / 1e6) * 1e6 + 0.5) AS BIGINT)"
        ).alias("lambda1_micros")
    )
    lam2 = (
        g.join(
            F.broadcast(
                v.select(F.col("j").alias("i"), F.col("v2").alias("a"))
            ),
            "i",
        )
        .join(F.broadcast(v.select("j", F.col("v2").alias("b"))), "j")
        .select(
            F.expr(
                "CAST(floor((gram_micros / 1e6) * (a / 1e6) * (b / 1e6)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("t")
        )
        .agg(F.sum("t").cast("long").alias("lambda2_micros"))
    )
    return (
        v.select(
            F.col("j").alias("component"),
            F.col("v1").alias("v1_micros"),
            F.col("v2").alias("v2_micros"),
        )
        .crossJoin(F.broadcast(lam1))
        .crossJoin(F.broadcast(lam2))
    )
