"""The tests exercise the checkout they belong to: its package on the
driver and in Spark's Python workers, whatever else is on the path."""

from __future__ import annotations

import ast
import collections
import os
import re

import pandas as pd

import birli_spark

#: the checkout's root and its package directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "birli_spark")


def test_driver_imports_this_checkout():
    assert os.path.dirname(os.path.abspath(birli_spark.__file__)) == PACKAGE


def test_workers_import_this_checkout(spark):
    def where(batches):
        import birli_spark as pkg
        for _ in batches:
            yield pd.DataFrame({"path": [os.path.abspath(pkg.__file__)]})

    got = spark.range(1).mapInPandas(where, "path string").first().path
    assert os.path.dirname(got) == PACKAGE


def _walk(top: str):
    """(dir, files) under ``top``, skipping hidden, cache and build dirs."""
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if not x.startswith(".")
                   and x not in ("__pycache__", "spark-warehouse",
                                 "metastore_db")]
        yield d, files


def test_every_package_definition_has_a_caller():
    """Every top-level ``def``/``class`` under the package is named
    somewhere in the checkout's .py, .md or .json files outside its own
    definition. The change log does not count: a name only history
    mentions has no caller."""
    ident = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    names = collections.Counter()
    for d, files in _walk(ROOT):
        for f in files:
            if f.endswith((".py", ".md", ".json")) and f != "CHANGES.md":
                with open(os.path.join(d, f), encoding="utf-8",
                          errors="replace") as fh:
                    names.update(ident.findall(fh.read()))
    orphans = []
    for d, files in _walk(PACKAGE):
        for f in sorted(x for x in files if x.endswith(".py")):
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            lines = src.splitlines()
            for node in ast.parse(src).body:
                if not isinstance(node, (ast.FunctionDef,
                                         ast.AsyncFunctionDef,
                                         ast.ClassDef)):
                    continue
                first = min([node.lineno] + [x.lineno for x in
                                             node.decorator_list]) - 1
                own = ident.findall("\n".join(lines[first:node.end_lineno]))
                if names[node.name] <= own.count(node.name):
                    orphans.append(
                        f"{os.path.relpath(path, ROOT)}::{node.name}")
    assert not orphans, orphans
