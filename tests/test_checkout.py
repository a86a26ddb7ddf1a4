"""The tests exercise the checkout they belong to: its package on the
driver and in Spark's Python workers, whatever else is on the path."""

from __future__ import annotations

import os

import pandas as pd

import birli_spark

#: this checkout's package directory
PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "birli_spark")


def test_driver_imports_this_checkout():
    assert os.path.dirname(os.path.abspath(birli_spark.__file__)) == PACKAGE


def test_workers_import_this_checkout(spark):
    def where(batches):
        import birli_spark as pkg
        for _ in batches:
            yield pd.DataFrame({"path": [os.path.abspath(pkg.__file__)]})

    got = spark.range(1).mapInPandas(where, "path string").first().path
    assert os.path.dirname(got) == PACKAGE
