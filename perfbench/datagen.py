"""Benchmark inputs: the repo's testdata fixtures and a seeded replica.

``fixtures/sf0.1`` and ``fixtures/sf0.01`` are byte-identical copies of
the synthetic testdata the tests, ``bench.py`` and
``tools/scale_stress.py`` read (``TESTDATA.md``); the benchmark carries
them so that a run reads nothing outside its checkout. ``FIXTURE_SHA256``
pins their digests.

``write_scaled`` derives a k-fold replica of a fixture the way
``tools/scale_stress.build_scaled`` does, with its ``KEY_SHIFTS`` and
``FIXED_TABLES``: dimension tables stay fixed, every entity key is
shifted by a disjoint per-replica offset, and every document token of
replica r > 0 gets a per-replica suffix, so key cardinality, group sizes
and near-duplicate pair counts all grow linearly. The seed picks a
jitter on the offsets and the suffix salt. The replica is written
through pyarrow with fixed options, so one seed gives byte-identical
files; ``digest`` hashes a directory.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")

# digest() of each fixture directory
FIXTURE_SHA256 = {
    "sf0.1": "7995e5f429fe622f41db4c45cc6b7b9194d9187d844a011e77d7e629c989aa98",
    "sf0.01": "1994a5bf0e2344812134441976c4a37ebeee4373fedea15b5aff5811ebe33afe",
}

# Columns that hold the same key domain share one offset per replica.
KEY_DOMAIN = {
    "o_custkey": "c_custkey",
    "l_orderkey": "o_orderkey",
}


def _scale_stress():
    """``tools/scale_stress.py``, loaded by path (``tools`` is no package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_scale_stress", os.path.join(ROOT, "tools", "scale_stress.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture(name: str) -> str:
    """The directory of fixture ``name``, after checking its digest."""
    path = os.path.join(FIXTURES, name)
    got = digest(path)
    if got != FIXTURE_SHA256[name]:
        raise RuntimeError(f"fixture {name} changed: sha256 {got}")
    return path


def write_scaled(base: str, out: str, k: int, seed: int) -> dict[str, int]:
    """Write a ``k``-fold key-shifted replica of ``base`` under ``out``;
    return row counts per table."""
    stress = _scale_stress()
    rng = np.random.default_rng([seed, k])
    salt = "".join(chr(ord("a") + int(c)) for c in rng.integers(0, 26, 2))
    # replica r > 0 shifts a key domain by r * stride plus a seeded
    # jitter below 2**20; fixture keys stay below stride - 2**20, so
    # replicas never collide
    domains = sorted(
        {KEY_DOMAIN.get(c, c) for shifts in stress.KEY_SHIFTS.values() for c in shifts}
    )
    jitter = {d: rng.integers(0, 1 << 20, k) for d in domains}
    jitter = {d: np.where(np.arange(k) == 0, 0, j) for d, j in jitter.items()}
    os.makedirs(out, exist_ok=True)
    rows = {}
    for fname in sorted(os.listdir(base)):
        name = fname[: -len(".parquet")]
        src = pq.read_table(os.path.join(base, fname))
        if name in stress.FIXED_TABLES:
            parts = [src]
        else:
            parts = []
            for r in range(k):
                tbl = src
                for col, stride in stress.KEY_SHIFTS[name].items():
                    off = r * stride + int(jitter[KEY_DOMAIN.get(col, col)][r])
                    i = tbl.schema.get_field_index(col)
                    tbl = tbl.set_column(
                        i, col, pc.add(tbl[col], pa.scalar(off, pa.int64()))
                    )
                if name == "documents" and r > 0:
                    text = pc.replace_substring_regex(
                        tbl["text"], r"(\S+)", rf"\1x{salt}{r}"
                    )
                    tbl = tbl.set_column(tbl.schema.get_field_index("text"), "text", text)
                    tbl = tbl.set_column(
                        tbl.schema.get_field_index("n_chars"),
                        "n_chars",
                        pc.cast(pc.utf8_length(text), pa.int64()),
                    )
                parts.append(tbl)
        tbl = pa.concat_tables(parts).combine_chunks()
        pq.write_table(
            tbl, os.path.join(out, fname), compression="zstd", row_group_size=1 << 20
        )
        rows[name] = tbl.num_rows
    return rows


def row_counts(path: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in sorted(os.listdir(path))
    }


def digest(path: str) -> str:
    """sha256 over the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
