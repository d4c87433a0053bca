"""CLI surface tests (in-process; the CLI is how a reference user runs
jobs — homework mains parity)."""

from __future__ import annotations

from geektime_bigdata_spark.cli import main


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "q1_pricing_summary" in out and len(out) > 90


def test_cli_unknown_query(capsys):
    assert main(["run", "nope_not_real"]) == 2


def test_cli_sf_dir_honors_bench_env_var(monkeypatch):
    """SPARK_GRAFT_SF_DIR drives the CLI default exactly as it drives
    bench.py, so one exported var sets the scale for both surfaces;
    an explicit --sf-dir still wins."""
    from geektime_bigdata_spark.cli import _default_sf_dir

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    assert _default_sf_dir() == "/root/testdata/sf0.01"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    assert _default_sf_dir() == "/root/testdata/sf0.001"


def test_cli_explain(spark, capsys):
    assert main(["explain", "flow_stats", "--sf-dir",
                 "/root/testdata/sf0.001"]) == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_cli_publish_writes_partitioned_corpus(spark, capsys, tmp_path):
    """The publish verb is the driver-visible write path: it must produce
    the language-partitioned corpus + summary sink and report
    deterministic counts as one JSON line."""
    import json
    import os

    out = str(tmp_path / "pub")
    assert main(["publish", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out]) == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    stats = json.loads(line)
    assert stats["job"] == "publish" and stats["n_kept"] > 0
    # partitioned layout: lang=<x> directories under corpus/
    parts = {
        d for d in os.listdir(os.path.join(out, "corpus"))
        if d.startswith("lang=")
    }
    assert parts and stats["n_langs"] == len(parts)
    # deterministic: the kept doc set is reproducible run-over-run
    out2 = str(tmp_path / "pub2")
    assert main(["publish", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out2]) == 0
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (stats["n_kept"], stats["n_langs"]) == (
        stats2["n_kept"], stats2["n_langs"]
    )
    a = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").collect()
    )
    b = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out2}/corpus").collect()
    )
    assert a == b


def test_cli_profile_prints_one_record(spark, sf_dir, capsys):
    """``profile`` warms the query, then prints one JSON line whose
    counts match the pinned warm profile of word_counts, with each
    rep's build time inside its wall."""
    import json

    from tests.test_profile import WORD_COUNTS_WARM

    assert main(["profile", "word_counts", "--sf-dir", sf_dir, "--reps", "1"]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["name"] == "word_counts" and rec["executions"]
    assert (rec["jobs"], rec["stages"], rec["skipped_stages"]) == WORD_COUNTS_WARM
    assert len(rec["wall_s"]) == len(rec["cpu_s"]) == len(rec["build_s"]) == 1
    assert 0 <= rec["build_s"][0] <= rec["wall_s"][0]
