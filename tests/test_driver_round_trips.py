"""Driver work a query pays before it runs: opening its tables and
building its Column expressions.

``registry.table`` takes each table's schema from a session memo, so a
warm query build submits no Spark job (parquet schema inference is one
job per read), and the session turns per-Column call-site capture off,
so building a query sends a few hundred py4j commands, not thousands.
"""

from __future__ import annotations

from pyspark.sql import Row

from geektime_bigdata_spark.operators.joins import q1_pricing_summary
from geektime_bigdata_spark.operators.tpch import q9_product_profit
from geektime_bigdata_spark.profile import profile
from geektime_bigdata_spark.registry import table
from geektime_bigdata_spark.session import release_caches

# gateway commands to build q1_pricing_summary warm: measured 604 with
# call-site capture off (1,938 with it on), ceiling = measured + ~10%
Q1_BUILD_COMMANDS = 665


def test_warm_q9_build_submits_no_job(spark, sf_dir):
    """q9 opens five tables; each used to infer its schema in a job."""
    q9_product_profit(spark, sf_dir)  # fills the schema memo
    assert profile(spark, lambda: q9_product_profit(spark, sf_dir))["jobs"] == 0


def test_q1_build_gateway_commands_stay_under_ceiling(spark, sf_dir):
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):  # py4j's GC-release commands
            sent.append(command)
        return send(command, *args, **kwargs)

    q1_pricing_summary(spark, sf_dir)  # warm
    client.send_command = counting
    try:
        q1_pricing_summary(spark, sf_dir)
    finally:
        del client.send_command
    assert len(sent) <= Q1_BUILD_COMMANDS


def test_rewritten_parquet_reads_new_schema_after_release(spark, tmp_path):
    """Files under a path keep their schema between release_caches
    calls; after one, a rewrite with another schema reads as written."""
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame([Row(doc_id=1, text="a")]).write.parquet(path)
    assert table(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]

    spark.createDataFrame([Row(doc_id=2, text="b", lang="en")]).write.mode(
        "overwrite"
    ).parquet(path)
    # until release_caches, the memo keeps the schema it inferred
    assert table(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    release_caches(spark)
    df = table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text", "lang"]
    assert df.collect() == [Row(doc_id=2, text="b", lang="en")]
