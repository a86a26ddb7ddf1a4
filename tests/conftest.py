from __future__ import annotations

import os
import sys

import pytest

#: this checkout: the tests import ITS package (session.get_spark hands
#: the imported package's tree on to Spark's Python workers)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from birli_spark.session import get_spark  # noqa: E402

#: the reference (Birli) checkout's golden fixtures; the reference
#: checkout sits beside this one
REFERENCE_DATA = os.path.join(os.path.dirname(ROOT), "reference", "tests",
                              "data")
#: nodeids skipped by needs_reference, for the summary line
_MISSING_REFERENCE: list[str] = []


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "needs_reference(path, ...): a golden gate that reads "
        "the reference's data at `path` (relative to its tests/data, or "
        "absolute); skipped, naming the path, when it is absent")


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    """Skip a needs_reference test whose data is absent — before its
    fixtures run, so a module fixture that reads the data never errors."""
    for mark in item.iter_markers("needs_reference"):
        missing = [p for p in (os.path.join(REFERENCE_DATA, a)
                               for a in mark.args)
                   if not os.path.exists(p)]
        if missing:
            _MISSING_REFERENCE.append(item.nodeid)
            pytest.skip(f"reference data missing: {missing[0]}")


def pytest_terminal_summary(terminalreporter):
    if _MISSING_REFERENCE:
        terminalreporter.write_line(
            f"{len(_MISSING_REFERENCE)} golden gates skipped: reference "
            f"data missing (needs_reference)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("birli_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def decoded_files(spark, monkeypatch):
    """A Spark accumulator counting the archive files the test decodes
    (``sources/gpubox.decode_file`` calls, on whichever worker runs
    them)."""
    from birli_spark.sources import gpubox

    decoded = spark.sparkContext.accumulator(0)
    decode_file = gpubox.decode_file

    def counted(path, decode):
        decoded.add(1)
        return decode_file(path, decode)

    # the scan task pickles the module global it calls, so the count
    # travels to the Python workers with it
    monkeypatch.setattr(gpubox, "decode_file", counted)
    return decoded


@pytest.fixture(scope="session")
def gpubox_dir(tmp_path_factory):
    """The 24-file 1254670392 gpubox archive reconstructed bit-faithfully
    from the reference's own `none` dump (shared by the CLI golden
    acceptance modules — see tools/make_1254670392_fixture.py)."""
    from tools.make_1254670392_fixture import build
    dest = tmp_path_factory.mktemp("gpubox_1254670392")
    meta = build(str(dest))
    assert meta["n_scans"] == 2 and len(meta["paths"]) == 24
    return meta
