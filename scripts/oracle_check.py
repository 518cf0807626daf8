#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column-name set, and
order-insensitive values. Stricter than the driver (exact equality after
the engine's own rounding rules) — if this passes, any reasonable
value-hash passes.

Usage: python scripts/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tf_idf_mapreduce_spark.session import get_spark
from tf_idf_mapreduce_spark.sources.io import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].astype("float64")
        elif k == "M":
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif k == "O":
            # decimals / lists → canonical string
            df[c] = df[c].map(lambda v: repr(v))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        if s[c].dtype.kind == "f":
            eq = (s[c].isna() & d[c].isna()) | (s[c] == d[c])
            if not eq.all():
                bad = (~eq).idxmax()
                problems.append(
                    f"float col {c}: {(~eq).sum()} mismatches, first at row {bad}: "
                    f"spark={s[c][bad]!r} duck={d[c][bad]!r}"
                )
        else:
            eq = s[c].eq(d[c]) | (s[c].isna() & d[c].isna())
            if not eq.all():
                bad = (~eq).idxmax()
                problems.append(
                    f"col {c}: {(~eq).sum()} mismatches, first at row {bad}: "
                    f"spark={s[c][bad]!r} duck={d[c][bad]!r}"
                )
    return problems


def _bounded_oracles() -> dict[str, dict]:
    """Bounded-accuracy oracles for queries whose VALUES are engine-
    specific sketches (no hash-exact twin exists by nature). The exact
    twin runs on DuckDB and the check asserts every approximate column
    lands within the sketch's advertised error bound — a checked
    accuracy contract instead of an unqualified rows-only skip.

    Spec: ``key`` joins the two frames; ``bounds`` maps a Spark approx
    column -> (exact DuckDB column, max relative error). HLL++ at
    rsd=0.02 has σ≈2%; 0.06 is the 3σ bound. percentile_approx at
    accuracy=10000 has rank error ≤ n/10000 (~2 ranks at sf0.01) —
    0.01 relative value error is generous for a smooth distribution.
    """
    from tf_idf_mapreduce_spark.operators.curation import PROFILE_COLUMNS

    profile_exact = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct FROM orders"
        for c in PROFILE_COLUMNS
    )
    return {
        "curate_profile_sketch": {
            "sql": f"""
                WITH prof AS ({profile_exact}),
                pct AS (
                  SELECT round(quantile_disc(o_totalprice, 0.5), 2) AS p50,
                         round(quantile_disc(o_totalprice, 0.95), 2) AS p95,
                         round(quantile_disc(o_totalprice, 0.99), 2) AS p99
                  FROM orders
                )
                SELECT prof.*, pct.p50, pct.p95, pct.p99 FROM prof, pct
            """,
            "key": ["col_name"],
            "bounds": {
                "n_rows": ("n_rows", 0.0),
                "approx_distinct": ("n_distinct", 0.06),
                "price_p50": ("p50", 0.01),
                "price_p95": ("p95", 0.01),
                "price_p99": ("p99", 0.01),
            },
        }
    }


def compare_bounded(
    spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, spec: dict
) -> tuple[list[str], dict[str, float]]:
    problems: list[str] = []
    key = spec["key"]
    exact = duck_pdf.rename(
        columns={c: f"__x_{c}" for c in duck_pdf.columns if c not in key}
    )
    merged = spark_pdf.merge(exact, on=key, how="outer", indicator=True)
    if (merged["_merge"] != "both").any():
        problems.append(
            f"key mismatch: {merged.loc[merged['_merge'] != 'both', key].to_dict('records')}"
        )
        return problems, {}
    errs: dict[str, float] = {}
    for approx_col, (exact_col, bound) in spec["bounds"].items():
        a = merged[approx_col].astype("float64")
        e = merged[f"__x_{exact_col}"].astype("float64")
        # a NULL/NaN approximate value is a broken sketch, not a small
        # error — pandas .max() would silently skip it (and NaN > bound
        # is False), so check explicitly before the bound math
        if a.isna().any() or e.isna().any():
            problems.append(
                f"bounded col {approx_col}: "
                f"{int(a.isna().sum())} NULL approx / "
                f"{int(e.isna().sum())} NULL exact values"
            )
            continue
        rel = float(((a - e).abs() / e.abs().clip(lower=1e-12)).max())
        errs[approx_col] = round(rel, 6)
        if rel > bound:
            problems.append(
                f"bounded col {approx_col}: max rel err {rel:.4f} > bound {bound}"
            )
    return problems, errs


def main() -> int:
    args = [
        a
        for a in sys.argv[1:]
        if not (a.startswith("--json") or a.startswith("--merge-json"))
    ]
    json_path, merge = None, False
    for a in sys.argv[1:]:
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
        elif a.startswith("--merge-json="):
            json_path, merge = a.split("=", 1)[1], True
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # no console progress bar: its \r-drawn stage bars would share
    # stdout lines with the verdict lines
    spark = get_spark(
        app_name="oracle-check",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"status": "spark_error", "err": str(e)[:500]}
            failures += 1
            continue
        t1 = time.time()
        if name not in oracles:
            spec = _bounded_oracles().get(name)
            if spec is None:
                print(f"SKIP {name}: rows-only ({len(spark_pdf)} rows, {t1-t0:.1f}s)")
                results[name] = {
                    "status": "rows_only", "rows": len(spark_pdf),
                    "spark_sec": round(t1 - t0, 2),
                }
                continue
            try:
                duck_pdf = con.execute(spec["sql"]).df()
            except Exception as e:
                print(f"FAIL {name}: duckdb error (bounded oracle): {e}")
                results[name] = {"status": "duckdb_error", "err": str(e)[:500]}
                failures += 1
                continue
            problems, errs = compare_bounded(spark_pdf, duck_pdf, spec)
            results[name] = {
                "status": "fail" if problems else "bounded",
                "rows": len(spark_pdf),
                "rel_err": errs,
                "bounds": {a: b for a, (_, b) in spec["bounds"].items()},
                "spark_sec": round(t1 - t0, 2),
            }
            if problems:
                failures += 1
                results[name]["problems"] = problems
                print(f"FAIL {name} (bounded): {problems}")
            else:
                worst = max(errs.values()) if errs else 0.0
                print(
                    f"OK   {name} (bounded: max rel err {worst:.4f} within "
                    f"sketch bounds, {len(spark_pdf)} rows, spark {t1-t0:.1f}s)"
                )
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"status": "duckdb_error", "err": str(e)[:500]}
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        results[name] = {
            "status": "fail" if problems else "pass",
            "rows": len(spark_pdf), "oracle_rows": len(duck_pdf),
            "spark_sec": round(t1 - t0, 2),
        }
        if problems:
            failures += 1
            results[name]["problems"] = problems
            print(f"FAIL {name} ({len(spark_pdf)} rows, spark {t1-t0:.1f}s):")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"OK   {name} ({len(spark_pdf)} rows, spark {t1-t0:.1f}s)")
    print("RESULT:", "FAIL" if failures else "PASS", f"({failures} failing)")
    if json_path:
        import json as _json
        import os as _os

        # --merge-json=PATH: fold a targeted run (a new query's
        # same-commit artifact entry) into the existing round artifact
        # instead of truncating it to the targeted subset. Entries are
        # re-ordered to the live registry order so the artifact stays
        # diffable across regenerations.
        if merge and _os.path.exists(json_path):
            with open(json_path) as f:
                prior = _json.load(f)
            merged = dict(prior.get("results", {}))
            merged.update(results)
            results = {n: merged[n] for n in qs if n in merged}
        with open(json_path, "w") as f:
            _json.dump(
                {"sf_dir": sf_dir, "n_queries": len(results), "results": results},
                f, indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
