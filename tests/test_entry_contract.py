"""Smoke tests for the driver contract (__spark_entry__.py) + a fast oracle
cross-check of every query at sf0.001 using DuckDB locally."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.oracle_check import TABLES, compare  # noqa: E402


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_align():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert qs, "no queries declared"
    missing = set(os_) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


def test_output_dir_is_per_process():
    """The writing queries' output root is one fresh directory per
    process (stable within it, removed at exit), so two sessions on one
    host never write over each other's files."""
    import subprocess

    code = ("import os, __spark_entry__ as e; d = e._out_dir(); "
            "print(d, d == e._out_dir() and os.path.isdir(d))")
    roots = [subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True,
        text=True, cwd=os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))).stdout.split()
        for _ in range(2)]
    assert [r[1] for r in roots] == ["True", "True"]
    assert roots[0][0] != roots[1][0]
    assert not any(os.path.exists(r[0]) for r in roots)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


#: queries over the reference's own files (S1d MWAX scan, S1e legacy scan,
#: S3b metafits dims) and the inputs they read
_REFERENCE_INPUTS = {
    "s1d_mwax_gpubox_scan": os.path.dirname(entrymod._MWAX_GLOB),
    "s1e_legacy_gpubox_scan": entrymod._ORD_DIR,
    "s3b_metafits_dims": entrymod._METAFITS,
}


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.needs_reference(_REFERENCE_INPUTS[n]))
    if n in _REFERENCE_INPUTS else n for n in sorted(entrymod.queries())])
def test_query_matches_oracle(spark, sf_dir, duck, name):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, sf_dir).toPandas()
    if name not in os_:
        assert len(sdf) >= 0  # rows-only check
        return
    ddf = duck.execute(os_[name]).df()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"
