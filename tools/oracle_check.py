"""Local stand-in for the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the same
sf, compare row-count, column names, and values (order-insensitive).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
           [--json=FILE] [--save=DIR] [--against=DIR]

``--save=DIR`` writes each run query's Spark and DuckDB frames as
``DIR/<query>.spark.parquet`` / ``DIR/<query>.duckdb.parquet``.
``--against=DIR`` also compares each frame with the one saved there
(same :func:`compare`), so a refactor's identity check is: ``--save``
on the parent checkout, ``--against`` on the change. A query whose
frame differs from its saved twin fails; one with no saved twin is
reported and not failed.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from birli_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duckdb={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}")
        return problems
    if problems:
        return problems
    s, d = canon(sdf), canon(ddf)
    for c in s.columns:
        a, b = s[c].values, d[c].values
        if np.issubdtype(np.asarray(a).dtype, np.floating) or np.issubdtype(
                np.asarray(b).dtype, np.floating):
            a = np.asarray(a, dtype=np.float64)
            b = np.asarray(b, dtype=np.float64)
            both_nan = np.isnan(a) & np.isnan(b)
            eq = (a == b) | both_nan
        else:
            eq = np.asarray(a == b)
        if not eq.all():
            bad = int((~eq).sum())
            i = int(np.argmax(~eq))
            problems.append(
                f"col {c}: {bad}/{len(eq)} mismatched, first at row {i}: "
                f"spark={a[i]!r} duckdb={b[i]!r}")
    return problems


def _frame_path(d: str, name: str, engine: str) -> str:
    return os.path.join(d, f"{name}.{engine}.parquet")


def save_frame(d: str, name: str, engine: str, df: pd.DataFrame) -> None:
    """Parquet copy of ``df``; object columns are stored as the strings
    :func:`canon` compares them by."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df.to_parquet(_frame_path(d, name, engine), index=False)


def against_saved(d: str, name: str, frames: dict) -> tuple[list[str], list[str]]:
    """(problems, notes): each frame in ``frames`` (engine -> frame)
    against the one :func:`save_frame` wrote for ``name``."""
    problems, notes = [], []
    for engine, df in frames.items():
        path = _frame_path(d, name, engine)
        if not os.path.exists(path):
            notes.append(f"no saved {engine} frame")
            continue
        problems += [f"vs saved {engine}: {p}" for p in
                     compare(name, df, pd.read_parquet(path))]
    return problems, notes


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a[2:].split("=", 1) for a in sys.argv[1:]
                if a.startswith("--") and "=" in a)
    json_out, save_dir, against_dir = (
        opts.get("json"), opts.get("save"), opts.get("against"))
    if save_dir:
        os.makedirs(save_dir, exist_ok=True)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}
    # a typo'd query name (or a forgotten sf_dir shifting positions)
    # must not silently filter everything and exit 0: that reads as a
    # green gate that checked nothing
    unknown = only - set(entrymod.queries())
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    spark = get_spark("oracle_check")
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_skip = 0
    n_same = n_diff = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            frames = {"spark": fn(spark, sf_dir).toPandas()}
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "fail", "err": f"spark: {e}"}
            n_fail += 1
            continue
        sdf = frames["spark"]
        if name not in os_:
            print(f"SKIP {name}: no oracle (rows-only) rows={len(sdf)}")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            n_skip += 1
        else:
            try:
                frames["duckdb"] = ddf = con.execute(os_[name]).df()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error: {e}")
                results[name] = {"status": "fail", "err": f"duckdb: {e}"}
                n_fail += 1
                continue
            try:
                problems = compare(name, sdf, ddf)
            except Exception as e:  # noqa: BLE001 — a comparison-time
                # exception (e.g. cross-engine dtype mismatch) must
                # record a FAIL for this query, not abort the whole
                # gate run and lose every prior result plus the --json
                # report
                problems = [f"compare error: {e}"]
            dt = time.time() - t0
            if problems:
                print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems))
                results[name] = {"status": "fail", "rows": len(sdf),
                                 "problems": problems}
                n_fail += 1
            else:
                print(f"PASS {name} ({dt:.1f}s, rows={len(sdf)})")
                results[name] = {"status": "pass", "rows": len(sdf),
                                 "sec": round(dt, 2)}
                n_pass += 1
        if save_dir:
            for engine, df in frames.items():
                try:
                    save_frame(save_dir, name, engine, df)
                except Exception as e:  # noqa: BLE001 — an unsavable
                    # frame must not abort the gate run
                    print(f"UNSAVED {name} {engine}: {e}")
        if against_dir:
            try:
                diffs, notes = against_saved(against_dir, name, frames)
            except Exception as e:  # noqa: BLE001
                diffs, notes = [f"compare error: {e}"], []
            results[name]["against"] = diffs
            if diffs:
                print(f"DIFF {name}: " + "; ".join(diffs))
                n_diff += 1
            else:
                print(f"SAME {name}"
                      + (f" ({'; '.join(notes)})" if notes else ""))
                n_same += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} rows-only ==")
    if against_dir:
        print(f"== against {against_dir}: {n_same} same, {n_diff} differ ==")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass,
                       "n_fail": n_fail, "n_rows_only": n_skip,
                       "results": results}, f, indent=1, sort_keys=True)
    spark.stop()
    return 1 if n_fail or n_diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
