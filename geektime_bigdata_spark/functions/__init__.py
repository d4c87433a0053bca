"""Shared column-expression library (all native Spark expressions).

These helpers are the engine's "scalar function" layer (SURVEY.md §2.6):
tokenization, shingling, deterministic hashing, and vector math used by the
text / dedup / similarity operators. Everything stays inside whole-stage
codegen — no Python UDFs.
"""

from geektime_bigdata_spark.functions.exprs import (
    dot_product,
    exact_sum,
    grid_round,
    hash_unit_weight,
    jaccard,
    lift_collected,
    shingles,
    sum_micros,
    tokens,
    values_relation,
    vec_norm,
)

__all__ = [
    "tokens",
    "shingles",
    "dot_product",
    "vec_norm",
    "hash_unit_weight",
    "exact_sum",
    "grid_round",
    "jaccard",
    "sum_micros",
    "values_relation",
    "lift_collected",
]
