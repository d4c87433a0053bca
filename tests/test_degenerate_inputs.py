"""Degenerate ``documents`` rows against the DuckDB oracles: a NULL
``text`` through the token family and a NULL ``doc_id`` through the
contamination family and the ``token_tf`` views. Each query runs over
a five-row tmp table and is compared with its own oracle SQL over the
same file."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from tests.oracle import assert_matches_oracle

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox naps under the lazy dog",
    "a slow brown fox jumps over the quick dog",
    "the lazy dog sleeps and the quick fox jumps",
]

TOKEN_FAMILY = [
    "word_counts",
    "tfidf_top_terms",
    "unigram_logprob_scores",
    "token_entropy_scores",
    "vocab_coverage",
    "simhash_neardup_pairs",
]
# token_tf keeps a NULL doc_id as its own group, as explode does
TOKEN_TF_VIEWS = ["term_freq", "inverted_index_str"]
CONTAMINATION = [
    "contamination_retrieval",
    "contamination_suite_report",
    "decontaminate_corpus",
]


def _sf_dir(spark, tmp_path_factory, name, rows):
    d = tmp_path_factory.mktemp(name)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def null_text_dir(spark, tmp_path_factory):
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(TEXTS)]
    return _sf_dir(
        spark, tmp_path_factory, "null_text", rows + [(4, None, "en", "s", 0)]
    )


@pytest.fixture(scope="module")
def null_doc_id_dir(spark, tmp_path_factory):
    # doc 0 is the eval item of every suite; the NULL-id row is on
    # neither side of any suite
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(TEXTS)]
    return _sf_dir(
        spark, tmp_path_factory, "null_doc_id",
        rows + [(None, TEXTS[0], "en", "s", len(TEXTS[0]))],
    )


def _check(spark, sf_dir, name):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{sf_dir}/documents.parquet/*.parquet'"
    )
    df = entry.queries()[name](spark, sf_dir)
    assert_matches_oracle(df, con, entry.oracle_sql()[name], name)


@pytest.mark.parametrize("name", TOKEN_FAMILY)
def test_null_text_row_matches_oracle(spark, null_text_dir, name):
    _check(spark, null_text_dir, name)


@pytest.mark.parametrize("name", CONTAMINATION)
def test_null_doc_id_row_matches_oracle(spark, null_doc_id_dir, name):
    _check(spark, null_doc_id_dir, name)


@pytest.mark.parametrize("name", TOKEN_TF_VIEWS)
def test_null_doc_id_token_group_matches_oracle(spark, null_doc_id_dir, name):
    _check(spark, null_doc_id_dir, name)
