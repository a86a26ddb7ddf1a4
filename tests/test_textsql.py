"""The one chain form (functions/textsql.py): ``run_steps`` checkpoints
exactly the barrier steps, and gives DuckDB's rows over ``ctes``."""

from __future__ import annotations

import duckdb

from birli_spark.functions import textsql as X

STEPS = [
    ("tx_a", "SELECT k, v FROM (VALUES (0, 1), (1, 2), (0, 3), (2, 4),"
             " (1, 5), (2, 6), (0, 7)) AS s(k, v)"),
    ("tx_b", "SELECT k, CAST(SUM(v) AS BIGINT) AS sv FROM tx_a GROUP BY k"),
    ("tx_c", "SELECT k, sv * 2 AS sv2 FROM tx_b"),
]
FINAL = "SELECT k, sv2 FROM tx_c"


def _head(plan):
    """The analyzed plan under the view's own SubqueryAlias/View nodes."""
    while plan.nodeName() in ("SubqueryAlias", "View"):
        plan = plan.child()
    return plan.nodeName()


def test_run_steps_checkpoints_only_barriers(spark):
    out = X.run_steps(spark, STEPS, FINAL, frozenset({"tx_b"}))
    heads = {n: _head(spark.table(n)._jdf.queryExecution().analyzed())
             for n, _ in STEPS}
    assert heads["tx_b"] == "LogicalRDD"
    assert heads["tx_a"] != "LogicalRDD" and heads["tx_c"] != "LogicalRDD"

    want = duckdb.connect().execute(
        f"WITH {X.ctes(STEPS)}\n{FINAL}").fetchall()
    got = [tuple(r) for r in out.collect()]
    assert sorted(got) == sorted(want) == [(0, 22), (1, 14), (2, 20)]
